"""Training-data pipeline operators: temporal joins, deterministic
sampling, temperature-weighted source mixing, MERGE-style upserts,
data profiling, and skew-handling join strategies.

The reference has no relational surface at all (SURVEY.md §2b); these
extend the north-star LLM-pipeline pack with the ops a 100 TB corpus
build actually runs:

- ``join_asof``          — point-in-time join (each event ↔ the most
  recent order of that user at-or-before the event). Spark has no
  native as-of join; the scalable formulation is union-then-window
  (one shuffle on the key, no range explosion), the same shape
  feature-store backfills use. Oracle: DuckDB's native ASOF JOIN.
- ``join_range_bands``   — non-equi band join against a tiny literal
  dimension (BroadcastNestedLoopJoin); the histogramming shape.
- ``sample_hash_split``  — deterministic train/val/test split from a
  content hash; reproducible across engines and runs, no RNG state.
- ``sample_stratified``  — per-stratum deterministic downsampling with
  language-dependent rates (the rebalancing pass of corpus curation).
- ``join_salted``        — the skew-mitigation pattern: salt the fact
  key, replicate the dimension per salt, sort-merge join on the
  widened key. Result is provably identical to the plain join (the
  oracle runs the plain join).

All deterministic, all oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from parquet_stream_writer_spark.functions import pround, quant6, quantn, sql_quantn
from parquet_stream_writer_spark.operators.dedup import _hex4_to_int_sql, _hex_to_int_sql
from parquet_stream_writer_spark.sources import load_events, load_table, scan_parallel

#: Salt fan-out for the skewed join (replicates the dim this many times).
_N_SALTS = 8

#: Deterministic sampling buckets: hash-hex4 mod 100.
_N_BUCKETS = 100


# ---------------------------------------------------------------------------
# As-of (point-in-time) join
# ---------------------------------------------------------------------------

def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event: the most recent order of that user placed
    at-or-before the event timestamp (NULL if none yet).

    Union-then-window: stack orders (kind 0) and events (kind 1) on a
    common (user, time) axis, sort within user, and carry the last
    seen order forward with ``last_value(..., ignoreNulls)``. One
    shuffle on user_id — no per-event range scan, no join explosion;
    at 100 TB this is the only as-of shape that doesn't quadratically
    expand hot users. Orders sort before events on timestamp ties, so
    an order exactly at the event time is visible (>= semantics,
    matching DuckDB ASOF JOIN).

    Orders are first reduced to one row per (user, time) — max
    o_orderkey — because as-of tie-breaks among equal timestamps are
    otherwise engine-defined.
    """
    ev = load_events(spark, sf_dir).select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp_ntz").alias("t"),
        )
        .agg(F.max("o_orderkey").alias("okey"))
    )
    order_side = orders.select(
        "user_id",
        "t",
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
        F.struct(F.col("t").alias("o_date"), F.col("okey").alias("o_key")).alias("ord"),
    )
    event_side = ev.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("kind"),
        "event_id",
        F.lit(None)
        .cast("struct<o_date:timestamp_ntz,o_key:bigint>")
        .alias("ord"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = order_side.unionByName(event_side).withColumn(
        "last_ord", F.last("ord", ignorenulls=True).over(w)
    )
    return (
        merged.where(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("t").alias("ts"),
            F.col("last_ord.o_key").alias("o_orderkey"),
            F.col("last_ord.o_date").alias("o_orderdate"),
        )
    )


ORACLE_JOIN_ASOF = """
WITH odedup AS (
  SELECT o_custkey AS user_id, o_orderdate AS t, max(o_orderkey) AS okey
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.ts, o.okey AS o_orderkey, o.t AS o_orderdate
FROM events e
ASOF LEFT JOIN odedup o
  ON e.user_id = o.user_id AND e.ts >= o.t
"""


# ---------------------------------------------------------------------------
# Range (band) join
# ---------------------------------------------------------------------------

#: (band, lo, hi) — half-open [lo, hi) bands over events.value.
_BANDS = (
    ("neg", -1e18, 0.0),
    ("small", 0.0, 10.0),
    ("mid", 10.0, 100.0),
    ("large", 100.0, 1e18),
)


def join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram events.value into literal bands via a non-equi join
    against a 4-row dimension — planned as BroadcastNestedLoopJoin
    (the dim is broadcast; each event tests 4 predicates, no shuffle
    of the fact side)."""
    # scan_parallel: the BroadcastNestedLoopJoin evaluates 4 range
    # predicates per event *before* any shuffle — spread the scan.
    ev = scan_parallel(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [(b, lo, hi) for b, lo, hi in _BANDS], "band string, lo double, hi double"
    )
    joined = ev.join(
        F.broadcast(bands),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
    )
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 2).alias("sum_value"),
            # Rounded-sum-divide (2-dp values): keeps the 4-dp band
            # mean off engine-order-dependent half-steps.
            pround(pround(F.sum("value"), 2) / F.count(F.lit(1)), 4).alias(
                "avg_value"
            ),
        )
    )


_SQL_BANDS = " UNION ALL ".join(
    f"SELECT '{b}' AS band, CAST({lo} AS DOUBLE) AS lo, CAST({hi} AS DOUBLE) AS hi"
    for b, lo, hi in _BANDS
)

ORACLE_JOIN_RANGE_BANDS = f"""
WITH bands AS ({_SQL_BANDS})
SELECT b.band,
       count(*) AS n_events,
       floor((sum(e.value)) * 100 + 0.5) / 100.0   AS sum_value,
       floor(((floor(sum(e.value) * 100 + 0.5) / 100.0) / count(*)) * 10000 + 0.5) / 10000.0 AS avg_value
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.band
"""


# ---------------------------------------------------------------------------
# Deterministic hash sampling
# ---------------------------------------------------------------------------

def _bucket_col(spark_side: bool) -> str:
    """Engine-specific SQL for the sampling bucket: first 4 hex chars
    of md5(doc_id-as-text), mod 100. Same VALUE both engines; the
    Spark side uses the conv() fast path (one md5 per row — DuckDB
    has no conv, so its side keeps the portable instr-sum; see
    dedup._hex_prefix_int)."""
    if spark_side:
        return (
            f"(cast(conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10)"
            f" as bigint) % {_N_BUCKETS})"
        )
    return f"({_hex4_to_int_sql('md5(CAST(doc_id AS VARCHAR))')} % {_N_BUCKETS})"


def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split: bucket =
    hex(md5(doc_id)) mod 100. No RNG, stable under re-runs, repartition
    and scale-out — the only splitting discipline that survives a
    distributed rebuild (``rand(seed)`` changes with partitioning)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_bucket_col(spark_side=True))
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return docs.select(
        "doc_id",
        "lang",
        bucket.cast("int").alias("bucket"),
        split.alias("split"),
    )


ORACLE_SAMPLE_HASH_SPLIT = f"""
SELECT doc_id, lang,
       CAST({_bucket_col(spark_side=False)} AS INTEGER) AS bucket,
       CASE WHEN {_bucket_col(spark_side=False)} < 80 THEN 'train'
            WHEN {_bucket_col(spark_side=False)} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


#: Per-language keep-rate (percent) for stratified downsampling.
_STRATA_RATES = {"en": 20, "de": 50, "fr": 50}
_DEFAULT_RATE = 80


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic downsampling: language-dependent keep
    rates applied via the same content-hash buckets (rebalances an
    English-heavy corpus without an RNG). Reports per-language totals
    and the achieved rate."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_bucket_col(spark_side=True))
    rate = F.lit(_DEFAULT_RATE)
    for lang, r in _STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    kept = docs.withColumn("bucket", bucket).withColumn("rate", rate)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("bucket") < F.col("rate"), 1).otherwise(0)).alias(
                "n_kept"
            ),
        )
        .withColumn(
            "kept_ratio",
            pround(F.col("n_kept") / F.col("n_docs"), 4),
        )
    )


_SQL_RATE = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {r}" for lang, r in _STRATA_RATES.items()
) + f" ELSE {_DEFAULT_RATE} END"

ORACLE_SAMPLE_STRATIFIED = f"""
WITH b AS (
  SELECT lang, {_bucket_col(spark_side=False)} AS bucket, {_SQL_RATE} AS rate
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       floor((sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END) * 1.0 / count(*)) * 10000 + 0.5) / 10000.0 AS kept_ratio
FROM b GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Salted join (skew mitigation)
# ---------------------------------------------------------------------------

def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events ⋈ customer with an ``_N_SALTS``-way salted key, then
    aggregated per market segment.

    The pattern for skewed fact keys: fact rows get ``salt =
    hash(row) mod N`` so one hot key spreads over N shuffle
    partitions; the dimension is replicated N× (explode over the salt
    range) so every (key, salt) pair still finds its match. The
    ``merge`` hint forces the sort-merge path the pattern exists for
    — with a broadcastable dim you'd skip salting entirely. Result is
    identical to the unsalted join, which is what the oracle runs.
    """
    ev = load_events(spark, sf_dir).withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(_N_SALTS))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(_N_SALTS - 1))))
        .withColumn("salt", F.col("salt").cast("long"))
    )
    joined = ev.hint("merge").join(
        cust,
        (ev["user_id"] == cust["c_custkey"]) & (ev["salt"] == cust["salt"]),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        pround(F.sum("value"), 2).alias("sum_value"),
    )


ORACLE_JOIN_SALTED = """
SELECT c.c_mktsegment, count(*) AS n_events,
       count(DISTINCT e.user_id) AS n_users,
       floor((sum(e.value)) * 100 + 0.5) / 100.0 AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""


QUERIES = {
    "join_asof": join_asof,
    "join_range_bands": join_range_bands,
    "sample_hash_split": sample_hash_split,
    "sample_stratified": sample_stratified,
    "join_salted": join_salted,
}

ORACLE = {
    "join_asof": ORACLE_JOIN_ASOF,
    "join_range_bands": ORACLE_JOIN_RANGE_BANDS,
    "sample_hash_split": ORACLE_SAMPLE_HASH_SPLIT,
    "sample_stratified": ORACLE_SAMPLE_STRATIFIED,
    "join_salted": ORACLE_JOIN_SALTED,
}


def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of ``orders``: per-column null count,
    distinct count, min/max — the validation pass a pipeline runs
    before training ingest.

    One scan: all metrics for all columns are expressions of a single
    ``agg`` row (Catalyst plans the multi-``countDistinct`` via one
    Expand, still one pass over the data), then ``stack`` pivots the
    wide row to (column, metric…) rows driver-free. Min/max stringify
    through DECIMAL for doubles — Spark and DuckDB disagree on
    scientific-notation cutoffs for raw double→string casts.
    """
    orders = scan_parallel(spark, sf_dir, "orders")
    # ONE scan, ONE HashAggregate: the multi-countDistinct Expand (4×
    # rows) is the unavoidable price of exact distincts, but keeping
    # every aggregation buffer primitive keeps it hash-aggregated.
    # o_orderstatus is a char(1) status code, so its min/max ride the
    # same agg as ascii codes and decode back to chars afterwards — no
    # variable-length string buffer, hence no SortAggregate fallback
    # and no second scan of orders.
    numeric = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("ck_null"),
        F.countDistinct("o_custkey").alias("ck_nd"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).alias("tp_null"),
        F.countDistinct("o_totalprice").alias("tp_nd"),
        (F.count(F.lit(1)) - F.count("o_orderstatus")).alias("os_null"),
        F.countDistinct("o_orderstatus").alias("os_nd"),
        F.min("o_custkey").alias("ck_min_raw"),
        F.max("o_custkey").alias("ck_max_raw"),
        F.min("o_totalprice").alias("tp_min_raw"),
        F.max("o_totalprice").alias("tp_max_raw"),
        F.min(F.ascii("o_orderstatus")).alias("os_min_code"),
        F.max(F.ascii("o_orderstatus")).alias("os_max_code"),
    )
    wide = numeric.select(
        "*",
        F.col("ck_min_raw").cast("string").alias("ck_min"),
        F.col("ck_max_raw").cast("string").alias("ck_max"),
        F.col("tp_min_raw").cast("decimal(18,2)").cast("string").alias("tp_min"),
        F.col("tp_max_raw").cast("decimal(18,2)").cast("string").alias("tp_max"),
        F.char(F.col("os_min_code")).alias("os_min"),
        F.char(F.col("os_max_code")).alias("os_max"),
    )
    return wide.selectExpr(
        "stack(3, "
        "  'o_custkey',     ck_null, ck_nd, ck_min, ck_max, "
        "  'o_totalprice',  tp_null, tp_nd, tp_min, tp_max, "
        "  'o_orderstatus', os_null, os_nd, os_min, os_max "
        ") AS (column_name, n_null, n_distinct, min_value, max_value)"
    )


ORACLE_PROFILE_TABLE = """
SELECT 'o_custkey' AS column_name,
       count(*) - count(o_custkey) AS n_null,
       count(DISTINCT o_custkey)   AS n_distinct,
       CAST(min(o_custkey) AS VARCHAR) AS min_value,
       CAST(max(o_custkey) AS VARCHAR) AS max_value
FROM orders
UNION ALL
SELECT 'o_totalprice', count(*) - count(o_totalprice), count(DISTINCT o_totalprice),
       CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
       CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*) - count(o_orderstatus), count(DISTINCT o_orderstatus),
       min(o_orderstatus), max(o_orderstatus)
FROM orders
"""


QUERIES["profile_table"] = profile_table
ORACLE["profile_table"] = ORACLE_PROFILE_TABLE


# ---------------------------------------------------------------------------
# Temperature-weighted source mixing
# ---------------------------------------------------------------------------

def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted corpus mixing (the multilingual-sampling
    rule from the mBERT/XLM-R lineage): per-source weight ∝ size^α
    (α=0.5), realized as a deterministic md5-bucket keep-rate per
    source. The per-source sizes and the normalizer are two tiny aggs
    broadcast back over the corpus — the full table is scanned once
    for stats and once for the filtered count; no RNG anywhere, so the
    sample is stable under repartitioning and re-runs (``rand(seed)``
    is not).

    Exactness discipline (round 14): the normalizer Σ√sz was a float
    sum over per-source square roots — partition-order dependent, and
    a ulp there can flip the 6-dp weight (which the keep-rate floor
    then amplifies by a whole percent bucket).  Each √sz now
    quantizes to a 1e-6-unit LONG before the sum; weight divides the
    two exact integers once.  √sz·1e6 ≈ 3e13 even for a petabyte-char
    source, far inside int64."""
    docs = load_table(spark, sf_dir, "documents")
    ssize = docs.groupBy("source").agg(
        F.sum("n_chars").alias("sz"), F.count(F.lit(1)).alias("n_docs")
    ).withColumn("sq6", quant6(F.sqrt("sz")))
    tot = ssize.agg(F.sum("sq6").alias("z6"))
    weighted = (
        ssize.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            pround(F.col("sq6") / F.col("z6"), 6).alias("weight"),
        )
        .withColumn(
            "rate_pct",
            F.floor(F.least(F.lit(1.0), F.col("weight") * 5) * 100).cast("int"),
        )
    )
    bucket = F.expr(_bucket_col(spark_side=True))
    sampled = (
        docs.join(F.broadcast(weighted.select("source", "rate_pct")), "source")
        .where(bucket < F.col("rate_pct"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return weighted.join(sampled, "source", "left").select(
        "source",
        "n_docs",
        "weight",
        "rate_pct",
        F.coalesce("n_sampled", F.lit(0).cast("long")).alias("n_sampled"),
    )


ORACLE_SAMPLE_TEMPERATURE_MIX = f"""
WITH ssize AS (
  SELECT source, sum(n_chars) AS sz, count(*) AS n_docs
  FROM documents GROUP BY source),
sq AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(sz) * 1000000 + 0.5) AS BIGINT) AS sq6
  FROM ssize),
tot AS (SELECT sum(sq6) AS z6 FROM sq),
w AS (
  SELECT source, n_docs,
         floor(sq6 / z6 * 1000000 + 0.5) / 1000000.0 AS weight
  FROM sq, tot),
r AS (
  SELECT *, CAST(floor(least(1.0, weight * 5) * 100) AS INTEGER) AS rate_pct
  FROM w),
sel AS (
  SELECT d.source, count(*) AS n_sampled
  FROM documents d JOIN r USING (source)
  WHERE {_bucket_col(spark_side=False)} < rate_pct
  GROUP BY d.source)
SELECT source, n_docs, weight, rate_pct, coalesce(n_sampled, 0) AS n_sampled
FROM r LEFT JOIN sel USING (source)
"""


QUERIES["sample_temperature_mix"] = sample_temperature_mix
ORACLE["sample_temperature_mix"] = ORACLE_SAMPLE_TEMPERATURE_MIX


# ---------------------------------------------------------------------------
# MERGE / upsert (SCD-style)
# ---------------------------------------------------------------------------

def merge_upsert_scd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics as a full-outer join: an updates batch
    (derived deterministically from the target so the op is
    self-contained) is merged into ``orders`` — matched keys take the
    update's values, unmatched-source keys insert, unmatched-target
    keys keep, and every row is tagged with its action. This is the
    batch skeleton of lakehouse upsert: one shuffle on the merge key,
    then pure row-local coalesce/case projection; at scale the updates
    side is usually small enough to broadcast, turning the merge into
    a map-side operation over the target."""
    orders = load_table(spark, sf_dir, "orders")
    upd = (
        orders.where(F.col("o_orderkey") % 10 == 0)
        .select(
            F.col("o_orderkey").alias("u_key"),
            F.lit("X").alias("new_status"),
            (F.col("o_totalprice") * 1.1).alias("new_price"),
        )
        .unionAll(
            orders.where(F.col("o_orderkey") % 1000 == 7).select(
                (F.col("o_orderkey") + 10_000_000).alias("u_key"),
                F.lit("N").alias("new_status"),
                F.lit(100.0).alias("new_price"),
            )
        )
    )
    merged = orders.join(upd, orders["o_orderkey"] == upd["u_key"], "full_outer")
    action = (
        F.when(F.col("u_key").isNull(), "keep")
        .when(F.col("o_orderkey").isNull(), "insert")
        .otherwise("update")
    )
    return merged.select(
        F.coalesce("u_key", "o_orderkey").alias("key"),
        F.coalesce("new_status", "o_orderstatus").alias("status"),
        pround(F.coalesce("new_price", "o_totalprice"), 2).alias("price"),
        action.alias("action"),
    )


ORACLE_MERGE_UPSERT_SCD = """
WITH updates AS (
  SELECT o_orderkey AS u_key, 'X' AS new_status, o_totalprice * 1.1 AS new_price
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, 'N', 100.0 FROM orders WHERE o_orderkey % 1000 = 7)
SELECT coalesce(u.u_key, o.o_orderkey) AS key,
       coalesce(u.new_status, o.o_orderstatus) AS status,
       floor(coalesce(u.new_price, o.o_totalprice) * 100 + 0.5) / 100.0 AS price,
       CASE WHEN u.u_key IS NULL THEN 'keep'
            WHEN o.o_orderkey IS NULL THEN 'insert'
            ELSE 'update' END AS action
FROM orders o FULL OUTER JOIN updates u ON o.o_orderkey = u.u_key
"""


QUERIES["merge_upsert_scd"] = merge_upsert_scd
ORACLE["merge_upsert_scd"] = ORACLE_MERGE_UPSERT_SCD


# ---------------------------------------------------------------------------
# Per-group reservoir sampling (exact k per stratum, deterministic)
# ---------------------------------------------------------------------------

#: Reservoir size per language.
_RESERVOIR_K = 10


def sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-``k``-per-group sampling: the ``k`` documents per language
    with the lowest content-hash rank — a deterministic reservoir
    (same sample under re-runs, repartitioning, and scale-out, unlike
    ``rand()``-based reservoirs).  One shuffle on (lang, hash); the
    per-group ``row_number`` top-k is the standard window top-k that
    AQE plans as a partial sort.  Complements ``sample_stratified``
    (rate-based) with count-based strata quotas — the "exactly 1M docs
    per language" curation shape."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.expr(_bucket_col(spark_side=True))
    w = Window.partitionBy("lang").orderBy(F.col("h"), F.col("doc_id"))
    return (
        docs.withColumn("h", h)
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= _RESERVOIR_K)
        .select("lang", "rk", "doc_id", F.col("h").cast("int").alias("bucket"))
    )


ORACLE_SAMPLE_RESERVOIR = f"""
SELECT lang,
       CAST(row_number() OVER (PARTITION BY lang
                               ORDER BY {_bucket_col(spark_side=False)}, doc_id)
            AS INTEGER) AS rk,
       doc_id,
       CAST({_bucket_col(spark_side=False)} AS INTEGER) AS bucket
FROM documents
QUALIFY rk <= {_RESERVOIR_K}
"""


QUERIES["sample_reservoir_per_group"] = sample_reservoir_per_group
ORACLE["sample_reservoir_per_group"] = ORACLE_SAMPLE_RESERVOIR


# ---------------------------------------------------------------------------
# Deterministic global shuffle (training-order permutation)
# ---------------------------------------------------------------------------

def sample_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document a deterministic pseudorandom *global*
    training position: order by md5(doc_id) — the reproducible corpus
    shuffle every epoch-0 data loader needs.

    A naive global ``row_number`` puts the whole corpus in ONE window
    partition (single-task sort).  Scale-safe shape instead: bucket by
    the hash's top byte, count per bucket, turn counts into bucket
    start offsets (a 256-row cumulative sum — fixed-size, never
    corpus-sized), broadcast-join the offsets back, and finish with a
    per-bucket ``row_number``.  position = offset + in-bucket rank.
    Sort work is fully parallel across buckets; no corpus-wide sort or
    single-partition window anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    bucket = F.conv(F.substring("h", 1, 2), 16, 10).cast("int")
    hashed = docs.select("doc_id", h.alias("h")).withColumn("b", bucket)
    counts = hashed.groupBy("b").agg(F.count(F.lit(1)).alias("n"))
    # 256-row window: bounded by the bucket-id domain, not the corpus.
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "b", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("offset")
    )
    wb = Window.partitionBy("b").orderBy("h", "doc_id")
    return (
        hashed.join(F.broadcast(offsets), "b")
        .withColumn("pos", (F.col("offset") + F.row_number().over(wb)).cast("bigint"))
        .select("doc_id", "pos")
    )


ORACLE_SAMPLE_GLOBAL_SHUFFLE = """
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
            AS BIGINT) AS pos
FROM documents
"""


QUERIES["sample_global_shuffle"] = sample_global_shuffle
ORACLE["sample_global_shuffle"] = ORACLE_SAMPLE_GLOBAL_SHUFFLE


# ---------------------------------------------------------------------------
# Incremental-ingest dedup (new batch vs historical corpus)
# ---------------------------------------------------------------------------

def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest dedup decision: split the corpus into a
    "history" (already-ingested) and an "incoming" batch by the
    deterministic hash bucket, then admit an incoming doc only if its
    normalized text matches neither history (anti-join) nor an
    earlier-admitted doc of the same batch (keep-lowest window).
    Emits every incoming doc with its verdict and the reason.

    Scale shape: the history side collapses to DISTINCT keys before
    the join — at 100 TB that relation is the dedup index, orders of
    magnitude smaller than the corpus, and the anti-join is hash-equi
    on a fixed-width key (here the text itself keeps the oracle
    trivial; production would use ``xxhash64(text)``). The within-
    batch window partitions by the same key, so both passes share one
    partitioning.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_bucket_col(spark_side=True))
    key = F.lower(F.trim(F.col("text")))
    tagged = docs.select("doc_id", key.alias("k"), bucket.alias("b"))
    history = tagged.where(F.col("b") < 80).select("k").distinct()
    incoming = tagged.where(F.col("b") >= 80)
    hit = incoming.join(history.withColumn("in_hist", F.lit(1)), "k", "left")
    w = Window.partitionBy("k").orderBy("doc_id")
    verdict = (
        hit.withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            F.when(F.col("in_hist").isNotNull(), "dup_of_history")
            .when(F.col("rk") > 1, "dup_in_batch")
            .otherwise("admitted")
            .alias("verdict"),
        )
    )
    return verdict.groupBy("verdict").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


ORACLE_DEDUP_INCREMENTAL_INGEST = f"""
WITH tagged AS (
  SELECT doc_id, lower(trim(text)) AS k,
         {_bucket_col(spark_side=False)} AS b
  FROM documents),
history AS (SELECT DISTINCT k FROM tagged WHERE b < 80),
incoming AS (SELECT doc_id, k FROM tagged WHERE b >= 80),
verdicts AS (
  SELECT i.doc_id,
         CASE WHEN h.k IS NOT NULL THEN 'dup_of_history'
              WHEN row_number() OVER (PARTITION BY i.k ORDER BY i.doc_id) > 1
                THEN 'dup_in_batch'
              ELSE 'admitted' END AS verdict
  FROM incoming i LEFT JOIN history h ON i.k = h.k)
SELECT verdict, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM verdicts GROUP BY verdict
"""


QUERIES["dedup_incremental_ingest"] = dedup_incremental_ingest
ORACLE["dedup_incremental_ingest"] = ORACLE_DEDUP_INCREMENTAL_INGEST


# ---------------------------------------------------------------------------
# End-to-end curation pipeline (funnel → dedup → split) in one plan
# ---------------------------------------------------------------------------

def pipeline_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole pretraining-curation pipeline as ONE Catalyst plan:
    quality filters → exact dedup (keep-lowest per normalized text) →
    deterministic train-bucket selection, reported as a per-source
    funnel (raw → quality → deduped → train docs, plus admitted
    chars). The point of expressing it as a single DataFrame is that
    Catalyst fuses the stages: the quality predicates and the dup-rank
    window and the bucket filter all ride the same scan — the corpus
    is read once, and only the dedup window shuffles it.

    Stage predicates reuse the funnel's shared feature/predicate
    builders (:mod:`text` module) so both operators can never desync.
    Dedup ranks **among quality survivors** (running count of
    ``quality_ok`` over the key partition) — a duplicate whose
    lowest-id copy failed quality still keeps its best surviving copy,
    exactly like running the stages one after another.

    The ~0.3s local cost inherited from the shared funnel feature
    builders (round 3) is accepted; the shape — one scan, one
    dedup-key-partitioned window, no single-partition exchange — is
    plan-pinned in
    tests/test_plans.py::test_curation_e2e_single_keyed_window.
    """
    from parquet_stream_writer_spark.operators.text import (
        funnel_feature_cols,
        funnel_stage_preds,
    )

    docs = scan_parallel(spark, sf_dir, "documents", "doc_id")
    feats = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.lower(F.trim(F.col("text"))).alias("k"),
        *funnel_feature_cols(),
        F.expr(_bucket_col(spark_side=True)).alias("b"),
    )
    quality = funnel_stage_preds()[-1]
    w = (
        Window.partitionBy("k")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = feats.withColumn("quality_ok", quality).withColumn(
        "dup_rk_q", F.sum(F.col("quality_ok").cast("long")).over(w)
    )
    is_q = F.col("quality_ok")
    is_d = is_q & (F.col("dup_rk_q") == 1)
    is_t = is_d & (F.col("b") < 80)
    return staged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("docs_raw"),
        F.sum(is_q.cast("long")).alias("docs_quality"),
        F.sum(is_d.cast("long")).alias("docs_deduped"),
        F.sum(is_t.cast("long")).alias("docs_train"),
        F.sum(F.when(is_t, F.col("n_chars")).otherwise(F.lit(0))).alias("train_chars"),
    )


def _curation_oracle_sql() -> str:
    from parquet_stream_writer_spark.operators.text import (
        sql_funnel_feats,
        sql_quality_pred,
    )

    feats = sql_funnel_feats(
        extra_feat=f"source, lower(trim(text)) AS k, {_bucket_col(spark_side=False)} AS b,",
        extra_f2="source, k, b,",
    )
    return f"""
WITH {feats},
flagged AS (
  SELECT doc_id, source, n_chars, k, b, {sql_quality_pred()} AS quality_ok
  FROM f2),
staged AS (
  SELECT source, n_chars, quality_ok, b,
         sum(CASE WHEN quality_ok THEN 1 ELSE 0 END)
           OVER (PARTITION BY k ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dup_rk_q
  FROM flagged)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs_raw,
       CAST(sum(CASE WHEN quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS docs_quality,
       CAST(sum(CASE WHEN quality_ok AND dup_rk_q = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_deduped,
       CAST(sum(CASE WHEN quality_ok AND dup_rk_q = 1 AND b < 80 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_train,
       CAST(sum(CASE WHEN quality_ok AND dup_rk_q = 1 AND b < 80 THEN n_chars
                ELSE 0 END) AS BIGINT) AS train_chars
FROM staged GROUP BY source
"""


QUERIES["pipeline_curation_e2e"] = pipeline_curation_e2e
ORACLE["pipeline_curation_e2e"] = _curation_oracle_sql()


# ---------------------------------------------------------------------------
# Class-balanced downsampling (balance to the rarest class)
# ---------------------------------------------------------------------------

def sample_class_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class balancing: downsample every language to the
    size of the RAREST language — the "equalize strata before
    fine-tuning" step, done with content-hash ranks so the kept set is
    identical under re-runs and any partitioning (no RNG state).

    Scale shape: one tiny per-class count agg whose min broadcasts as
    a single row, then the same one-shuffle (lang, hash) window top-k
    as ``sample_reservoir_per_group`` — the quota is data-derived
    instead of a constant, everything else rides the identical plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    kmin = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").alias("k"))
    )
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.select("lang", "doc_id", h.alias("h"))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .crossJoin(F.broadcast(kmin))
        .where(F.col("rk") <= F.col("k"))
        .select("lang", "rk", "doc_id")
    )


ORACLE_SAMPLE_CLASS_BALANCED = """
WITH kmin AS (
  SELECT min(n) AS k FROM (SELECT count(*) AS n FROM documents GROUP BY lang)
)
SELECT lang, rk, doc_id FROM (
  SELECT lang, doc_id,
         CAST(row_number() OVER (PARTITION BY lang
                                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
              AS INTEGER) AS rk
  FROM documents
), kmin WHERE rk <= k
"""


QUERIES["sample_class_balanced"] = sample_class_balanced
ORACLE["sample_class_balanced"] = ORACLE_SAMPLE_CLASS_BALANCED


# ---------------------------------------------------------------------------
# Importance-weighted sampling (quality-proportional, deterministic)
# ---------------------------------------------------------------------------

#: Acceptance probability at the maximum weight (the longest doc).
_IMP_BASE_RATE = 0.5
#: Fine-grained bucket space for fractional acceptance thresholds.
_IMP_BUCKETS = 10000


def sample_importance_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling with a deterministic accept rule: each doc
    is kept with probability proportional to a quality weight — here
    ``sqrt(n_chars / max_chars)`` (sub-linear, the standard tempering
    that favors substantive documents without letting the longest
    dominate) scaled so the best doc is kept at ``_IMP_BASE_RATE``.

    No RNG anywhere: accept iff ``hash_bucket(doc_id) < threshold``,
    with the bucket the same content-hash used by every sampler in
    this pack — stable under re-runs, repartitioning, and scale-out,
    and exactly reproducible by the oracle (thresholds are computed
    with the shared 0.5-rounding so both engines make identical
    accept decisions at every boundary). The max weight is a 1-row
    aggregate joined back broadcast; everything else is map-side over
    one scan. Emits the accepted docs with their audit columns.
    """
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("n_chars").alias("max_chars"))
    bucket = F.expr(
        f"(cast(conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10)"
        f" as bigint) % {_IMP_BUCKETS})"
    )
    threshold = F.floor(
        F.lit(_IMP_BASE_RATE * _IMP_BUCKETS)
        * F.sqrt(F.col("n_chars") / F.col("max_chars"))
        + F.lit(0.5)
    ).cast("long")
    return (
        docs.crossJoin(F.broadcast(mx))
        .select(
            "doc_id",
            "source",
            "n_chars",
            bucket.cast("long").alias("bucket"),
            threshold.alias("threshold"),
        )
        .where(F.col("bucket") < F.col("threshold"))
    )


ORACLE_SAMPLE_IMPORTANCE_WEIGHTED = f"""
WITH mx AS (SELECT max(n_chars) AS max_chars FROM documents),
scored AS (
  SELECT doc_id, source, n_chars,
         CAST({_hex4_to_int_sql("md5(CAST(doc_id AS VARCHAR))")} % {_IMP_BUCKETS}
              AS BIGINT) AS bucket,
         CAST(floor({_IMP_BASE_RATE * _IMP_BUCKETS}
                    * sqrt(n_chars * 1.0 / max_chars) + 0.5) AS BIGINT)
           AS threshold
  FROM documents CROSS JOIN mx)
SELECT doc_id, source, n_chars, bucket, threshold
FROM scored WHERE bucket < threshold
"""


QUERIES["sample_importance_weighted"] = sample_importance_weighted
ORACLE["sample_importance_weighted"] = ORACLE_SAMPLE_IMPORTANCE_WEIGHTED


# ---------------------------------------------------------------------------
# Dataset card — one-pass grouping-sets corpus summary
# ---------------------------------------------------------------------------

def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The release "dataset card" numbers in ONE corpus pass: doc
    count, char volume, mean length, distinct-text count, and
    exact-dup rate — per source, per language, and corpus-wide.

    All three granularities come from a single GROUPING SETS aggregate
    ((source), (lang), ()) — Catalyst plans one scan + one Expand×3 +
    one hash aggregate, instead of three separate scans.  The exact-dup
    rate rides the same pass as a count(DISTINCT text); at 100 TB you'd
    swap it for approx_count_distinct and keep the identical plan
    shape.  ``grouping()`` flags disambiguate a NULL group key from a
    rollup row, exactly as the SQL standard intends.
    """
    docs = scan_parallel(spark, sf_dir, "documents", "doc_id")
    gs = docs.groupingSets(
        [["source"], ["lang"], []], "source", "lang"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        pround(F.avg("n_chars"), 4).alias("mean_chars"),
        # Distinct on md5(text), not text: the distinct shuffle then
        # carries 32-byte keys instead of document bodies — the form
        # that survives wide documents at scale (oracle mirrors it).
        F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
        F.grouping("source").alias("g_source"),
        F.grouping("lang").alias("g_lang"),
    )
    section = (
        F.when(F.col("g_source") == 0, F.lit("source"))
        .when(F.col("g_lang") == 0, F.lit("lang"))
        .otherwise(F.lit("corpus"))
    )
    return gs.select(
        section.alias("section"),
        F.coalesce(F.col("source"), F.col("lang"), F.lit("ALL")).alias("entity"),
        "n_docs",
        "total_chars",
        "mean_chars",
        "n_distinct_texts",
        # n_docs CAN be 0 here: the () grouping set emits its row even
        # over an empty corpus, and ANSI integer division would raise.
        pround(
            F.when(
                F.col("n_docs") > 0,
                F.lit(1.0) - F.col("n_distinct_texts") / F.col("n_docs"),
            ),
            4,
        ).alias("exact_dup_rate"),
    ).orderBy("section", "entity")


ORACLE_PIPELINE_DATASET_CARD = """
WITH gs AS (
  SELECT source, lang,
         count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         floor((avg(n_chars)) * 10000 + 0.5) / 10000.0 AS mean_chars,
         count(DISTINCT md5(text)) AS n_distinct_texts,
         grouping(source) AS g_source,
         grouping(lang) AS g_lang
  FROM documents
  GROUP BY GROUPING SETS ((source), (lang), ())
)
SELECT CASE WHEN g_source = 0 THEN 'source'
            WHEN g_lang = 0 THEN 'lang'
            ELSE 'corpus' END AS section,
       coalesce(source, lang, 'ALL') AS entity,
       n_docs, total_chars, mean_chars, n_distinct_texts,
       CASE WHEN n_docs > 0
            THEN floor((1.0 - n_distinct_texts * 1.0 / n_docs) * 10000 + 0.5) / 10000.0
            END AS exact_dup_rate
FROM gs
ORDER BY section, entity
"""


QUERIES["pipeline_dataset_card"] = pipeline_dataset_card
ORACLE["pipeline_dataset_card"] = ORACLE_PIPELINE_DATASET_CARD


# ---------------------------------------------------------------------------
# Referential-integrity (FK orphan) audit
# ---------------------------------------------------------------------------

#: (relation label, child table, child FK, parent table, parent PK).
_FK_RELATIONS = (
    ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def pipeline_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep: for every foreign-key edge of the
    schema, the child row count and the orphan count (child keys with
    no parent) — the pre-flight audit a pipeline runs before trusting
    joins, because an orphaned key silently drops rows from every
    inner join downstream.

    Each edge is one key-equi LEFT ANTI join (dimension parents are
    broadcast by size estimate, fact parents sort-merge — no hints)
    feeding a 1-row aggregate; the edges union into the report.  Scans
    prune to the key columns, so even the fact-table checks move only
    bigints.

    Optimization r18 note: a per-child fused pass (each child scanned
    once, chained LEFT joins against deduped parent key sets, one
    stacked aggregate) was measured and REVERTED — it ran ~30% SLOWER
    at sf0.1 (1.98 s vs 1.52 s solo): the chained joins serialize
    edges that the union of independent anti-join branches schedules
    in parallel, and the parent dedup added exchanges. Keep the
    parallel-branch shape.
    """
    parts = []
    for label, child, ckey, parent, pkey in _FK_RELATIONS:
        c = load_table(spark, sf_dir, child).select(F.col(ckey).alias("k"))
        p = load_table(spark, sf_dir, parent).select(F.col(pkey).alias("k"))
        orphans = c.join(p, "k", "left_anti")
        parts.append(
            c.agg(F.count(F.lit(1)).alias("n_child")).crossJoin(
                F.broadcast(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            ).select(
                F.lit(label).alias("relation"),
                "n_child",
                "n_orphans",
                pround(
                    F.when(
                        F.col("n_child") > 0,
                        F.col("n_orphans") / F.col("n_child"),
                    ),
                    6,
                ).alias("orphan_rate"),
            )
        )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out.orderBy("relation")


ORACLE_PIPELINE_FK_INTEGRITY_AUDIT = "\nUNION ALL\n".join(
    f"""
SELECT '{label}' AS relation,
       (SELECT count(*) FROM {child}) AS n_child,
       (SELECT count(*) FROM {child} c LEFT JOIN {parent} p
          ON c.{ckey} = p.{pkey} WHERE p.{pkey} IS NULL) AS n_orphans,
       CASE WHEN (SELECT count(*) FROM {child}) > 0
            THEN floor(((SELECT count(*) FROM {child} c LEFT JOIN {parent} p
                           ON c.{ckey} = p.{pkey} WHERE p.{pkey} IS NULL)
                        * 1.0 / (SELECT count(*) FROM {child})) * 1000000 + 0.5) / 1000000.0
            END AS orphan_rate
""".strip()
    for label, child, ckey, parent, pkey in _FK_RELATIONS
) + "\nORDER BY relation"


QUERIES["pipeline_fk_integrity_audit"] = pipeline_fk_integrity_audit
ORACLE["pipeline_fk_integrity_audit"] = ORACLE_PIPELINE_FK_INTEGRITY_AUDIT


# ---------------------------------------------------------------------------
# Bucketed co-located join
# ---------------------------------------------------------------------------

#: Bucket count for the co-located join tables.  On a real cluster
#: size this so each bucket's data fits one task comfortably
#: (e.g. 100 TB lineitem / 256 MB-target => thousands of buckets);
#: 8 keeps the test warehouse tiny while still exercising multi-bucket
#: pruning and co-location.
_BUCKETS = 8

#: Session-local record of (table -> source fingerprint) for the
#: bucketed copies, so repeated calls skip the rewrite while a changed
#: source file still invalidates.
_BUCKETED_READY: dict[str, tuple] = {}


def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join via Spark bucketing: lineitem and
    orders are persisted ONCE as bucketed tables (``bucketBy`` on the
    join key + in-bucket ``sortBy``), after which every join on that
    key is exchange-free — both sides' matching buckets are already
    co-located and sorted, so the sort-merge join reads them directly.

    This is THE Spark answer to repeated 100 TB fact-fact joins: the
    one-time bucketed write amortizes the shuffle that every
    subsequent join, per day and per pipeline, would otherwise re-pay.
    The plan pin asserts no Exchange below the join (the only shuffle
    left is the final small aggregate).  Results are identical to the
    plain join — the oracle computes the same rows from the raw
    parquet.

    The bucketed copies live in the session warehouse keyed by SF tag;
    a fingerprint memo skips the rewrite on repeated calls while any
    change to the source parquet invalidates it.
    """
    import re as _re
    from pathlib import Path as _Path

    from parquet_stream_writer_spark.sources import table_fingerprint

    tag = _re.sub(r"[^0-9a-z]+", "_", _Path(sf_dir).name.lower())
    specs = [
        (f"li_bucketed_{tag}", "lineitem", "l_orderkey"),
        (f"ord_bucketed_{tag}", "orders", "o_orderkey"),
    ]
    for tbl, src, key in specs:
        fp = table_fingerprint(sf_dir, src)
        if _BUCKETED_READY.get(tbl) == fp and spark.catalog.tableExists(tbl):
            continue
        if not spark.catalog.tableExists(tbl):
            # A previous SESSION's managed location may survive while
            # the in-memory catalog (which holds the bucket spec) does
            # not — the files are unusable as a bucketed table without
            # their catalog metadata, so clear and rewrite.  A real
            # cluster's Hive metastore keeps the spec persistent and
            # never hits this branch.
            import shutil as _shutil
            from urllib.parse import urlparse as _urlparse

            wh = _urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
            _shutil.rmtree(_Path(wh) / tbl.lower(), ignore_errors=True)
        (
            load_table(spark, sf_dir, src)
            .write.bucketBy(_BUCKETS, key)
            .sortBy(key)
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tbl)
        )
        _BUCKETED_READY[tbl] = fp
    li = spark.table(specs[0][0])
    orders = spark.table(specs[1][0])
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
                ).cast("long")
            ).alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_JOIN_BUCKETED_COLOCATED = """
SELECT o_orderpriority,
       count(*) AS n_lineitems,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


QUERIES["join_bucketed_colocated"] = join_bucketed_colocated
ORACLE["join_bucketed_colocated"] = ORACLE_JOIN_BUCKETED_COLOCATED


# ---------------------------------------------------------------------------
# Partition-skew audit
# ---------------------------------------------------------------------------

#: Simulated shuffle width for the skew audit (matches the session's
#: spark.sql.shuffle.partitions at test scale; the math is identical
#: at any width).
_SKEW_BUCKETS = 32
#: A bucket is "hot" when it holds more than this multiple of the
#: mean bucket size — the usual trigger for salting / AQE skew-join.
_SKEW_HOT_MULTIPLE = 2


def pipeline_partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew audit for a prospective join/aggregate key: hash
    events.user_id into ``_SKEW_BUCKETS`` simulated shuffle partitions
    (the PORTABLE md5 bucketing, so the oracle reproduces the exact
    assignment — Spark's real `hash()` is engine-private) and report
    the size histogram's operational summary: max/mean bucket load,
    the skew ratio, and how many buckets exceed the salting trigger.

    This is the measurement that decides BETWEEN the repo's join
    strategies at 100 TB: skew_ratio ≈ 1 → plain shuffle join
    (`join_shuffle_large`); a few hot buckets → AQE skew-join
    handles it; skew_ratio ≫ ``_SKEW_HOT_MULTIPLE`` with one
    dominant key → salt it (`join_salted`).  One scan, one hash
    aggregate on the bucket, one 1-row summary — nothing driver-side.
    """
    ev = load_events(spark, sf_dir)
    bucket = F.expr(
        f"(cast(conv(substring(md5(cast(user_id as string)), 1, 4), 16, 10)"
        f" as bigint) % {_SKEW_BUCKETS})"
    )
    per_bucket = ev.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_keys"),
    )
    stats = per_bucket.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("n_rows").alias("total_rows"),
        F.max("n_rows").alias("max_bucket_rows"),
        F.min("n_rows").alias("min_bucket_rows"),
        F.avg("n_rows").alias("mean_raw"),
        F.max("n_keys").alias("max_bucket_keys"),
    )
    hot = (
        per_bucket.crossJoin(F.broadcast(stats.select("mean_raw")))
        .agg(
            F.sum(
                (
                    F.col("n_rows") > F.lit(_SKEW_HOT_MULTIPLE) * F.col("mean_raw")
                ).cast("long")
            ).alias("n_hot_buckets")
        )
    )
    return stats.crossJoin(F.broadcast(hot)).select(
        "n_buckets",
        "total_rows",
        "max_bucket_rows",
        "min_bucket_rows",
        pround(F.col("mean_raw"), 4).alias("mean_bucket_rows"),
        pround(F.col("max_bucket_rows") / F.col("mean_raw"), 4).alias("skew_ratio"),
        "n_hot_buckets",
        "max_bucket_keys",
    )


ORACLE_PIPELINE_PARTITION_SKEW_AUDIT = f"""
WITH per_bucket AS (
  SELECT ({_hex4_to_int_sql("md5(CAST(user_id AS VARCHAR))")} % {_SKEW_BUCKETS}) AS bucket,
         count(*) AS n_rows,
         count(DISTINCT user_id) AS n_keys
  FROM events GROUP BY 1
)
SELECT count(*) AS n_buckets,
       CAST(sum(n_rows) AS BIGINT) AS total_rows,
       max(n_rows) AS max_bucket_rows,
       min(n_rows) AS min_bucket_rows,
       floor(avg(n_rows) * 10000 + 0.5) / 10000.0 AS mean_bucket_rows,
       floor(max(n_rows) / avg(n_rows) * 10000 + 0.5) / 10000.0 AS skew_ratio,
       CAST(sum(CASE WHEN n_rows > {_SKEW_HOT_MULTIPLE} * (SELECT avg(n_rows) FROM per_bucket)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_buckets,
       max(n_keys) AS max_bucket_keys
FROM per_bucket
"""


QUERIES["pipeline_partition_skew_audit"] = pipeline_partition_skew_audit
ORACLE["pipeline_partition_skew_audit"] = ORACLE_PIPELINE_PARTITION_SKEW_AUDIT


# ---------------------------------------------------------------------------
# Curriculum ordering
# ---------------------------------------------------------------------------

#: Curriculum phases (easy → hard by document length).
_CURRICULUM_PHASES = 4


def sample_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: docs are banded into
    ``_CURRICULUM_PHASES`` difficulty phases (ntile over length — the
    classic short-to-long curriculum), then SHUFFLED deterministically
    within each phase by content hash (training wants within-phase
    randomness but cross-run reproducibility — ``rand()`` changes
    under repartitioning; md5 does not, same discipline as
    ``sample_hash_split``).

    Scale shape — NO global single-partition window anywhere, the
    same bucketed two-pass discipline as ``sample_global_shuffle``:

    1. global rank by (n_chars, doc_id) via 256 RANGE buckets (order-
       aligned), per-bucket counts → bucket offsets (256-row window),
       rank = offset + in-bucket row_number;
    2. phase from rank by the closed-form ntile arithmetic (first
       ``n mod k`` tiles get ``n div k + 1`` rows) — pure integer
       expressions, verified against the oracle's native ntile;
    3. in-phase position bucketed again by the shuffle hash's top
       byte: per-(phase, byte) counts → offsets (≤256 rows per
       phase), position = offset + in-bucket row_number.
    """
    docs = load_table(spark, sf_dir, "documents")
    k = _CURRICULUM_PHASES
    nb = 256
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("n_chars").alias("mn"),
        F.max("n_chars").alias("mx"),
    )
    width = (F.col("mx") - F.col("mn")) / nb
    b = docs.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        "n_chars",
        "n",
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(
                F.lit(nb - 1),
                F.floor((F.col("n_chars") - F.col("mn")) / width).cast("int"),
            ),
        )
        .otherwise(F.lit(0))
        .alias("rb"),
    )
    # Optimization r18 (guide §5): the bucketed doc relation feeds the
    # bucket counts AND the ranking pass — checkpoint so the scan +
    # stats cross join runs once.
    b = b.localCheckpoint(eager=False)
    counts = b.groupBy("rb").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = Window.orderBy("rb").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "rb", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    w_rank = Window.partitionBy("rb").orderBy("n_chars", "doc_id")
    ranked = b.join(F.broadcast(offsets), "rb").select(
        "doc_id",
        "n_chars",
        "n",
        (F.col("off") + F.row_number().over(w_rank)).alias("rank"),
    )
    # closed-form ntile(k): q = n div k tiles of size q+1 for the
    # first r = n mod k tiles, size q after (ELSE unreachable at q=0).
    phased = ranked.select(
        "doc_id",
        "n_chars",
        F.expr(
            f"CAST(CASE WHEN rank <= ((n div {k}) + 1) * (n % {k})"
            f" THEN (rank + (n div {k})) div ((n div {k}) + 1)"
            f" ELSE (n % {k}) + ((rank - ((n div {k}) + 1) * (n % {k}))"
            f"      + (n div {k}) - 1) div (n div {k})"
            f" END AS INT)"
        ).alias("phase"),
        F.expr(
            "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)"
            " as bigint)"
        ).alias("shuffle_key"),
        F.expr(
            "cast(conv(substring(md5(cast(doc_id as string)), 1, 2), 16, 10)"
            " as int)"
        ).alias("sb"),
    )
    pc = phased.groupBy("phase", "sb").agg(F.count(F.lit(1)).alias("cnt"))
    w_poff = (
        Window.partitionBy("phase")
        .orderBy("sb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    poffsets = pc.select(
        "phase", "sb", F.coalesce(F.sum("cnt").over(w_poff), F.lit(0)).alias("poff")
    )
    w_pos = Window.partitionBy("phase", "sb").orderBy("shuffle_key", "doc_id")
    return (
        phased.join(F.broadcast(poffsets), ["phase", "sb"])
        .select(
            "doc_id",
            "n_chars",
            "phase",
            (F.col("poff") + F.row_number().over(w_pos)).cast("long").alias("phase_pos"),
        )
    )


ORACLE_SAMPLE_CURRICULUM_ORDER = f"""
WITH phased AS (
  SELECT doc_id, n_chars,
         CAST(ntile({_CURRICULUM_PHASES})
              OVER (ORDER BY n_chars ASC, doc_id ASC) AS INTEGER) AS phase,
         {_hex_to_int_sql("md5(CAST(doc_id AS VARCHAR))", 8)} AS shuffle_key
  FROM documents
)
SELECT doc_id, n_chars, phase,
       CAST(row_number() OVER (PARTITION BY phase
                               ORDER BY shuffle_key ASC, doc_id ASC) AS BIGINT)
         AS phase_pos
FROM phased
"""


QUERIES["sample_curriculum_order"] = sample_curriculum_order
ORACLE["sample_curriculum_order"] = ORACLE_SAMPLE_CURRICULUM_ORDER


# ---------------------------------------------------------------------------
# Bipartite PageRank
# ---------------------------------------------------------------------------

#: Power-iteration rounds / damping for the bipartite PageRank.
_PR_ITERS = 3
_PR_DAMPING = 0.85
_PR_TOP = 20
#: Max neighbours per adjacency-list row (hot-node absolute bound).
_PR_SEG = 4096
#: Fixed pre-split modulus bounding the collect_list aggregation buffer
#: of a hot node to ~deg/_PR_PRESPLIT before the absolute re-chunk.
_PR_PRESPLIT = 16
#: Iteration count at which carrier="auto" switches from the
#: checkpointed-arrays carrier to the bucketed-table carrier: the
#: one-time bucketed write amortizes once enough iterations each save
#: an adjacency re-exchange.
_PR_BUCKETED_ITERS = 4
#: Bucket count for the bucketed-table carrier (matches the session's
#: shuffle parallelism so the node-sized side shuffles 1:1).
_PR_BUCKETS = 32


def graph_pagerank_bipartite(
    spark: SparkSession,
    sf_dir: str,
    iters: int = _PR_ITERS,
    carrier: str = "auto",
) -> DataFrame:
    """PageRank over the customer–supplier purchase graph (nodes =
    customers ∪ suppliers, an undirected edge per observed
    (customer, supplier) trade): the canonical importance score for
    entity weighting — and the template for any Pregel-style
    iterative graph pass expressed in DataFrames.

    Shape (the Lloyd/BPE loop discipline): the graph is grouped ONCE
    into a segmented adjacency-list relation (src, dsts[]) with ONE
    edge shuffle — repartition by src, exchange-free (src, seg)
    grouping under a fixed pre-split modulus that bounds the
    collect_list buffer of a hot node, then a map-side slice/explode
    re-chunk that bounds every checkpointed row to ~``_PR_SEG``
    neighbours absolutely.  Out-degree rides the adjacency rows (one
    window sum over the src-clustered segment rows at build time —
    8 bytes per segment row; r19, guide §2.4), so each of the
    ``_PR_ITERS`` power iterations is exactly one adjacency⋈rank
    hash join whose heavy side is the PACKED array relation (see the
    carrier note below on what it re-exchanges), an explode
    computing share = pr/deg in place, and ONE dst-keyed sum with
    map-side partial aggregation — the old per-iteration node-sized
    rank⋈degree join is gone.  No
    per-iteration left join for dangling nodes: the graph is
    bidirected, so every node has in-degree ≥ 1 and the contribution
    sum already covers all of them.  Rank state is node-sized, never
    collected; no adjacency matrix, no driver-side graph.

    Ranks are emitted mean-normalized (×N, so magnitudes are O(1))
    and 6-dp rounded; top ``_PR_TOP`` nodes.  Node ids are namespaced
    even/odd (customer 2k, supplier 2k+1) so one bigint column holds
    both partitions.

    ``carrier`` selects how the adjacency relation is carried across
    iterations: ``"checkpoint"`` (localCheckpoint arrays — cheapest
    at few iterations, re-exchanges the packed arrays per iteration
    under AQE), ``"bucketed"`` (one-time bucketed+sorted table write
    on ``src``; every iteration's adjacency⋈share join then runs
    with zero exchange and zero sort on the heavy side), or
    ``"auto"`` (bucketed iff ``iters >= _PR_BUCKETED_ITERS``).  Both
    carriers produce identical output
    (tests/test_bucketing.py::test_pagerank_carriers_agree).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("cnode").alias("src"), F.col("snode").alias("dst")).union(
        pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"))
    )
    # ONE edge shuffle: repartition by src, then group by (src, seg) —
    # HashPartitioning(src) already satisfies the (src, seg) clustering,
    # so the aggregate runs exchange-free and the output STAYS
    # partitioned by src, which the per-iteration join reuses verbatim.
    # The fixed pre-split modulus bounds the collect_list aggregation
    # buffer to ~deg/_PR_PRESPLIT; the map-side slice/explode re-chunk
    # below then bounds every checkpointed row to ~_PR_SEG absolutely,
    # so a hot node can never blow a single row or task.
    n_chunks = F.floor((F.size("dsts") - 1) / _PR_SEG).cast("int")
    # Optimization r19 (guide §2.4): each adjacency row carries its
    # node's out-degree (one window sum over the already-src-clustered
    # segment rows — no extra exchange, 8 bytes per SEGMENT row), so
    # every iteration computes share = pr/deg AT the adjacency join
    # and the old per-iteration ranks⋈degs node-sized join (one join +
    # one exchange + two sorts × _PR_ITERS in the plan) disappears.
    # Identical arithmetic: pr/deg is one double division per segment
    # row either way.
    wdeg = Window.partitionBy("src")
    adj = (
        edges.repartition("src")
        .groupBy("src", F.pmod(F.xxhash64("dst"), F.lit(_PR_PRESPLIT)).alias("seg"))
        .agg(F.collect_list("dst").alias("dsts"))
        .withColumn("deg", F.sum(F.size("dsts")).over(wdeg))
        .select(
            "src",
            "deg",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks),
                    lambda i: F.slice("dsts", i * _PR_SEG + 1, _PR_SEG),
                )
            ).alias("dsts"),
        )
    )
    # Carrier trade-off, measured at sf0.1: a checkpointed plan
    # reports UnknownPartitioning under AQE, so each iteration
    # re-exchanges the PACKED arrays (~8 B/edge — 3× less data than
    # re-shuffling raw (src, dst, deg) edge rows, which is what the
    # pre-adjacency shape paid, plus its extra left join); persist()
    # keeps the partitioning metadata but ran slower end-to-end
    # (3.8 s vs 2.5 s) and pins executor memory.  At ≥
    # _PR_BUCKETED_ITERS iterations the exchange-free shape is a
    # bucketed TABLE on src (the join_bucketed_colocated pattern):
    # the one-time bucketed+sorted write amortizes across iterations
    # — every per-iteration adjacency⋈share join then reads the
    # bucketed scan with NO exchange and NO sort on the heavy side.
    if carrier == "auto":
        carrier = "bucketed" if iters >= _PR_BUCKETED_ITERS else "checkpoint"
    if carrier == "bucketed":
        import hashlib

        from parquet_stream_writer_spark.operators._carrier import bucketed_carrier

        # Session-salted, lifecycle-managed carrier (ADVICE r7): the
        # helper salts the table name with the applicationId (no
        # concurrent-session clobber), keeps at most one live table per
        # (key, args) with an atexit drop (no per-run leak), and clears
        # orphaned locations via the Hadoop FS API (HDFS/S3-portable).
        tag = hashlib.md5(f"{sf_dir}|{iters}".encode()).hexdigest()[:10]
        adj = bucketed_carrier(
            spark, adj, f"pr_adj_{tag}", buckets=_PR_BUCKETS, bucket_col="src"
        )
    else:
        adj = adj.localCheckpoint(eager=False)
    # Node-sized state for the INITIAL rank vector only (deg rides the
    # adjacency rows since r19, so no per-iteration deg join remains).
    nodes = adj.select("src").distinct().localCheckpoint(eager=False)
    ndf = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(ndf)).select(
        F.col("src").alias("node"), (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(iters):
        contrib = (
            adj.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.explode("dsts").alias("node"),
                (F.col("pr") / F.col("deg")).alias("share"),
            )
            .groupBy("node")
            .agg(F.sum("share").alias("m"))
        )
        ranks = contrib.crossJoin(F.broadcast(ndf)).select(
            "node",
            (
                F.lit(1.0 - _PR_DAMPING) / F.col("n")
                + F.lit(_PR_DAMPING) * F.col("m")
            ).alias("pr"),
        )
    return (
        ranks.crossJoin(F.broadcast(ndf))
        .select(
            F.when(F.col("node") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.floor(F.col("node") / 2).cast("long").alias("key"),
            pround(F.col("pr") * F.col("n"), 6).alias("norm_rank"),
        )
        .orderBy(F.desc("norm_rank"), F.asc("node_type"), F.asc("key"))
        .limit(_PR_TOP)
    )


# Unrolled-CTE DuckDB twin (module-level code, not a helper function,
# so it does not perturb sibling keys' staleness hashes).
_PR_ORACLE_HEAD = """
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e0 AS (
  SELECT cnode AS src, snode AS dst FROM pairs
  UNION ALL
  SELECT snode AS src, cnode AS dst FROM pairs
),
deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY 1),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT src AS node, 1.0 / nn.n AS pr FROM deg, nn)
"""

_PR_ORACLE_PARTS = [_PR_ORACLE_HEAD]
for _i in range(1, _PR_ITERS + 1):
    _PR_ORACLE_PARTS.append(
        f""",
r{_i} AS (
  SELECT nd.node,
         {1.0 - _PR_DAMPING} / nn.n
           + {_PR_DAMPING} * coalesce(c.m, 0.0) AS pr
  FROM (SELECT src AS node FROM deg) nd
  LEFT JOIN (
    SELECT e.dst AS node, sum(r.pr / dg.deg) AS m
    FROM e0 e JOIN r{_i - 1} r ON e.src = r.node JOIN deg dg ON e.src = dg.src
    GROUP BY e.dst
  ) c ON nd.node = c.node
  CROSS JOIN nn
)"""
    )
_PR_ORACLE_PARTS.append(
    f"""
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       CAST(floor(node / 2) AS BIGINT) AS key,
       floor(pr * nn.n * 1000000 + 0.5) / 1000000.0 AS norm_rank
FROM r{_PR_ITERS}, nn
ORDER BY norm_rank DESC, node_type ASC, key ASC
LIMIT {_PR_TOP}
"""
)
ORACLE_GRAPH_PAGERANK_BIPARTITE = "".join(_PR_ORACLE_PARTS)

QUERIES["graph_pagerank_bipartite"] = graph_pagerank_bipartite
ORACLE["graph_pagerank_bipartite"] = ORACLE_GRAPH_PAGERANK_BIPARTITE


# ---------------------------------------------------------------------------
# Snapshot diff (CDC classify)
# ---------------------------------------------------------------------------

#: Snapshot-diff simulation params: rows whose key hits _DIFF_ADD_MOD are
#: absent from the OLD snapshot (appear "added"), rows hitting
#: _DIFF_DEL_MOD are absent from the NEW one ("deleted"), and rows hitting
#: _DIFF_UPD_MOD get a price bump in NEW ("modified").
_DIFF_ADD_MOD = 7
_DIFF_DEL_MOD = 3
_DIFF_UPD_MOD = 13
_DIFF_BUMP_CENTS = 150


def pipeline_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture classification between two snapshots of the
    ``orders`` table: every primary key is labelled added / deleted /
    modified / unchanged by a single full-outer join on the key plus a
    row-fingerprint comparison — the diff pass an incremental 100 TB
    curation pipeline runs before deciding what to reprocess.

    The two snapshots are deterministic slices of the driver corpus
    (no synthesized data): OLD omits keys ≡ _DIFF_ADD_MOD (mod 10),
    NEW omits keys ≡ _DIFF_DEL_MOD (mod 10) and bumps the price of
    keys ≡ 0 (mod _DIFF_UPD_MOD) by _DIFF_BUMP_CENTS cents.

    Scale shape: ONE full-outer sort-merge join on the primary key —
    the only join strategy that survives when both snapshots are
    100 TB (no broadcast candidate exists).  The row fingerprint is
    computed map-side before the shuffle, so the exchange moves
    (key, 32-byte hash) not whole rows; at petabyte scale you'd
    partition both snapshots identically on ingest and this join
    becomes exchange-free.  Modified-row detection by hash equality
    never decodes column-level diffs it doesn't need.
    """
    # Engine-portable row fingerprint: md5 over pipe-joined stable
    # fields, with the price carried as integer cents (half-up) so
    # double→string formatting differences between Spark and DuckDB
    # can never perturb the hash.
    def fingerprint(price_cents: str) -> str:
        return (
            "md5(concat_ws('|', CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING), "
            f"o_orderstatus, o_orderpriority, CAST({price_cents} AS STRING)))"
        )

    orders = load_table(spark, sf_dir, "orders")
    old_cents = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    new_cents = (
        f"CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + "
        f"(CASE WHEN o_orderkey % {_DIFF_UPD_MOD} = 0 THEN {_DIFF_BUMP_CENTS} ELSE 0 END)"
    )
    old = orders.where(F.expr(f"o_orderkey % 10 <> {_DIFF_ADD_MOD}")).select(
        F.col("o_orderkey").alias("old_key"),
        F.expr(fingerprint(old_cents)).alias("old_fp"),
        F.expr(old_cents).alias("old_cents"),
    )
    new = orders.where(F.expr(f"o_orderkey % 10 <> {_DIFF_DEL_MOD}")).select(
        F.col("o_orderkey").alias("new_key"),
        F.expr(fingerprint(new_cents)).alias("new_fp"),
        F.expr(new_cents).alias("new_cents"),
    )
    diff = old.join(new, old["old_key"] == new["new_key"], "full_outer").select(
        F.when(F.col("old_key").isNull(), "added")
        .when(F.col("new_key").isNull(), "deleted")
        .when(F.col("old_fp") != F.col("new_fp"), "modified")
        .otherwise("unchanged")
        .alias("change_type"),
        F.coalesce(F.col("new_key"), F.col("old_key")).alias("key"),
        (F.coalesce(F.col("new_cents"), F.lit(0)) - F.coalesce(F.col("old_cents"), F.lit(0))).alias(
            "cents_delta"
        ),
    )
    return (
        diff.groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("key").alias("key_checksum"),
            F.sum("cents_delta").alias("sum_cents_delta"),
        )
        .orderBy("change_type")
    )


_DIFF_OLD_CENTS = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
_DIFF_NEW_CENTS = (
    f"CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + "
    f"(CASE WHEN o_orderkey % {_DIFF_UPD_MOD} = 0 THEN {_DIFF_BUMP_CENTS} ELSE 0 END)"
)
ORACLE_PIPELINE_SNAPSHOT_DIFF = f"""
WITH old AS (
  SELECT o_orderkey AS old_key,
         md5(concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
             o_orderstatus, o_orderpriority, CAST({_DIFF_OLD_CENTS} AS VARCHAR))) AS old_fp,
         {_DIFF_OLD_CENTS} AS old_cents
  FROM orders WHERE o_orderkey % 10 <> {_DIFF_ADD_MOD}
),
new AS (
  SELECT o_orderkey AS new_key,
         md5(concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
             o_orderstatus, o_orderpriority, CAST({_DIFF_NEW_CENTS} AS VARCHAR))) AS new_fp,
         {_DIFF_NEW_CENTS} AS new_cents
  FROM orders WHERE o_orderkey % 10 <> {_DIFF_DEL_MOD}
),
diff AS (
  SELECT CASE WHEN old_key IS NULL THEN 'added'
              WHEN new_key IS NULL THEN 'deleted'
              WHEN old_fp <> new_fp THEN 'modified'
              ELSE 'unchanged' END AS change_type,
         coalesce(new_key, old_key) AS key,
         coalesce(new_cents, 0) - coalesce(old_cents, 0) AS cents_delta
  FROM old FULL OUTER JOIN new ON old_key = new_key
)
SELECT change_type, count(*) AS n_rows,
       CAST(sum(key) AS BIGINT) AS key_checksum,
       CAST(sum(cents_delta) AS BIGINT) AS sum_cents_delta
FROM diff GROUP BY change_type ORDER BY change_type
"""

QUERIES["pipeline_snapshot_diff"] = pipeline_snapshot_diff
ORACLE["pipeline_snapshot_diff"] = ORACLE_PIPELINE_SNAPSHOT_DIFF


# ---------------------------------------------------------------------------
# Deterministic k-fold assignment
# ---------------------------------------------------------------------------

#: Number of cross-validation folds.
_N_FOLDS = 5


def sample_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment over
    ``documents`` (fold = content-hash mod k — the same no-RNG
    discipline as :func:`sample_hash_split`, so folds are stable
    under re-runs, repartitioning, and scale-out) plus the per-fold
    balance audit a CV harness checks before training: size, char
    mass, and lang/source coverage per fold.

    Scale shape: one scan, map-side fold hashing, one hash aggregate
    on a k-valued key; the two distincts plan as one Expand pass.
    No RNG state, no collect.
    """
    docs = load_table(spark, sf_dir, "documents")
    fold = F.expr(
        f"cast(conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10) as bigint)"
        f" % {_N_FOLDS}"
    )
    return (
        docs.withColumn("fold", fold.cast("int"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("fold")
    )


ORACLE_SAMPLE_KFOLD_ASSIGN = f"""
SELECT CAST(({_hex4_to_int_sql("md5(CAST(doc_id AS VARCHAR))")} % {_N_FOLDS}) AS INTEGER)
         AS fold,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT source) AS n_sources,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM documents GROUP BY 1 ORDER BY 1
"""

QUERIES["sample_kfold_assign"] = sample_kfold_assign
ORACLE["sample_kfold_assign"] = ORACLE_SAMPLE_KFOLD_ASSIGN


# ---------------------------------------------------------------------------
# Triangle count / global clustering coefficient
# ---------------------------------------------------------------------------

#: Co-purchase graph sample: only orders with key % _TRI_ORDER_MOD == 0
#: contribute edges (the audit-sample discipline — bounds the graph to a
#: deterministic quarter of the fact table).
_TRI_ORDER_MOD = 4


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph (an undirected edge joins two parts that appear
    in the same order) — the standard cohesion metric for entity
    graphs, and the canonical two-hop distributed-join benchmark.

    Algorithm: canonical edge orientation (src < dst) makes every
    triangle countable exactly once as an ordered path a<b<c whose
    closing edge (a,c) exists.  The wedge denominator Σ deg·(deg−1)/2
    comes from the undirected degree relation.  Edges are built once
    (per-order sorted-set pair comb, distinct) and lazily checkpointed
    for the six consumers (adjacency build, the two triangle joins,
    the degree union, the edge count, and the two path-degree aggs).

    Shape (optimization r18, guide §2.3/§2.4): the old two-path
    enumeration — edge⋈edge on the middle vertex (3.4M wedge rows at
    sf0.1 from 300k edges), shuffled again on (wa, wc) into the
    closing join, and executed a SECOND time just to count n_paths —
    is gone. n_paths = Σ_b lower(b)·higher(b) is computed from two
    degree aggregates joined on the node (exactly the cardinality of
    the old wedge join, no wedge row ever materialized), and
    triangles come from one higher-adjacency-list build
    (collect_list per src) joined to each edge's two endpoints:
    |N⁺(a) ∩ N⁺(b)| summed over oriented edges counts each triangle
    exactly once at its two lowest vertices — the standard
    edge-iterator algorithm. Shuffled rows drop from 2×3.4M wedges +
    3.4M closing-join probes to 2×300k edge rows carrying ~30-int
    adjacency arrays.

    Scale shape: every join is a hash join on int keys — no broadcast
    of anything corpus-sized, no driver collect.  Σ deg·|N⁺| bytes of
    adjacency replication is the known hot spot at 100 TB: the
    mitigation (degree-ordered orientation — orient each edge from
    its lower-degree endpoint, so hubs never fan out) drops the cost
    to O(m^1.5); the canonical orientation here keeps the oracle
    portable and is documented as the small-graph form.  On a real
    cluster the checkpoint becomes persist(DISK_ONLY).
    """
    # Per-order distinct part sets are tiny (a handful of parts per
    # order), so the pair expansion is a map-side sorted-array comb —
    # the orders_basket_affinity shape — instead of the old
    # distinct → self-join (which shuffled the item relation twice).
    sets = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % _TRI_ORDER_MOD == 0)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    comb = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + F.lit(2), F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    edges = (
        sets.select(F.explode(comb).alias("e"))
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint(eager=False)
    )
    adj = edges.groupBy(F.col("src").alias("node")).agg(
        F.collect_list("dst").alias("nb")
    )
    na = adj.select(F.col("node").alias("a"), F.col("nb").alias("na"))
    nb = adj.select(F.col("node").alias("b"), F.col("nb").alias("nbb"))
    tri = (
        edges.join(na, edges["src"] == na["a"])
        .join(nb, edges["dst"] == nb["b"])
        .agg(
            F.coalesce(
                F.sum(F.size(F.array_intersect("na", "nbb"))), F.lit(0)
            )
            .cast("long")
            .alias("n_triangles")
        )
    )
    deg = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    nodes_wedges = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("bigint").alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    low = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("lo")
    )
    high = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("hi")
    )
    n_paths = (
        low.join(high, "node")
        .agg(
            F.coalesce(F.sum(F.col("lo") * F.col("hi")), F.lit(0))
            .cast("long")
            .alias("n_paths")
        )
    )
    return (
        nodes_wedges.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_paths))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_paths",
            "n_wedges",
            "n_triangles",
            pround(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6).alias(
                "clustering"
            ),
        )
    )


ORACLE_GRAPH_TRIANGLE_COUNT = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_orderkey % {_TRI_ORDER_MOD} = 0
),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
wedge AS (
  SELECT e1.src AS wa, e1.dst AS wb, e2.dst AS wc
  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM wedge w JOIN edges e3 ON w.wa = e3.src AND w.wc = e3.dst
),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges
  ) GROUP BY node
),
nw AS (
  SELECT count(*) AS n_nodes,
         CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
  FROM deg
),
ne AS (SELECT count(*) AS n_edges FROM edges),
np AS (SELECT count(*) AS n_paths FROM wedge)
SELECT n_nodes, n_edges, n_paths, n_wedges, n_triangles,
       floor((3.0 * n_triangles / n_wedges) * 1000000 + 0.5) / 1000000.0 AS clustering
FROM nw, ne, np, tri
"""

QUERIES["graph_triangle_count"] = graph_triangle_count
ORACLE["graph_triangle_count"] = ORACLE_GRAPH_TRIANGLE_COUNT


# ---------------------------------------------------------------------------
# Z-order layout (data-skipping) audit
# ---------------------------------------------------------------------------

#: Z-order audit geometry: 8-bit per-dimension ranks → 16 range files.
_Z_BITS = 8
_Z_FILES = 16
#: Fixed customer-key probe window for the files-hit metric.
_Z_PROBE_LO = 100
_Z_PROBE_HI = 199


def pipeline_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout audit: would Z-ORDERing ``orders`` by
    (customer, order-day) beat the natural time-linear layout for
    customer-keyed probes?  Emits, per candidate layout, each file's
    expected min/max spans and the number of files a fixed customer
    range probe must open — the min/max-statistics data-skipping
    arithmetic behind OPTIMIZE ZORDER decisions.

    Both layouts are computed map-side with NO global sort: each
    dimension is normalized to an 8-bit rank ((v−min)·256 div range,
    one 1-row min/max broadcast), the Z-value interleaves the rank
    bits with pure div/mod arithmetic (portable to any engine), and
    file assignment is range-bucketing of the layout key — exactly
    what a range-partitioned write produces.  One scan, one small
    (layout, file) aggregate; at 100 TB the same projection IS the
    repartitionByRange write key, and this audit prices it before
    rewriting a petabyte.
    """
    def bit_terms(col: str) -> str:
        # Σ_i bit_i(xr)·2^(2i+1) + bit_i(yr)·2^(2i) — engine-portable
        # interleave via div/mod only (no shift operators).
        terms = []
        for i in range(_Z_BITS):
            terms.append(f"((({col}_x) div {2**i}) % 2) * {2**(2*i+1)}")
            terms.append(f"((({col}_y) div {2**i}) % 2) * {2**(2*i)}")
        return " + ".join(terms)

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").alias(
            "day"
        ),
    )
    stats = orders.agg(
        F.min("o_custkey").alias("cmin"),
        F.max("o_custkey").alias("cmax"),
        F.min("day").alias("dmin"),
        F.max("day").alias("dmax"),
    )
    ranked = orders.crossJoin(F.broadcast(stats)).select(
        "o_custkey",
        "day",
        "cmin",
        "cmax",
        "dmin",
        "dmax",
        F.expr(f"((o_custkey - cmin) * {2**_Z_BITS}) div (cmax - cmin + 1)").alias(
            "r_x"
        ),
        F.expr(f"((day - dmin) * {2**_Z_BITS}) div (dmax - dmin + 1)").alias("r_y"),
    )
    z_max = 4 ** _Z_BITS  # interleaved key space size
    both = ranked.select(
        "o_custkey",
        "day",
        "cmin",
        "cmax",
        "dmin",
        "dmax",
        F.expr(
            f"(r_y * {2**_Z_BITS}) div ({2**_Z_BITS} * {2**_Z_BITS} div {_Z_FILES})"
        ).alias("f_linear"),
        F.expr(f"({bit_terms('r')}) div ({z_max} div {_Z_FILES})").alias("f_zorder"),
    )
    files = both.select(
        F.explode(
            F.array(
                F.struct(F.lit("linear").alias("layout"), F.col("f_linear").alias("f")),
                F.struct(F.lit("zorder").alias("layout"), F.col("f_zorder").alias("f")),
            )
        ).alias("lf"),
        "o_custkey",
        "day",
        "cmin",
        "cmax",
        "dmin",
        "dmax",
    ).groupBy(F.col("lf.layout").alias("layout"), F.col("lf.f").alias("f")).agg(
        F.min("o_custkey").alias("fc_min"),
        F.max("o_custkey").alias("fc_max"),
        F.min("day").alias("fd_min"),
        F.max("day").alias("fd_max"),
        F.min("cmin").alias("cmin"),
        F.min("cmax").alias("cmax"),
        F.min("dmin").alias("dmin"),
        F.min("dmax").alias("dmax"),
    )
    return (
        files.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            # Integer-sum mean (round-12 fractional-avg migration): the
            # per-file span fractions share ONE constant denominator, so
            # the mean is an exact long sum divided once — no
            # partition-order double accumulation.  The per-row F.avg it
            # replaced was order-dependent (its double sum could differ
            # across partitionings), which is why it was migrated; the
            # two are therefore exact-vs-order-dependent, not
            # bit-identical in general.
            pround(
                F.sum(F.col("fc_max") - F.col("fc_min") + 1)
                / (
                    F.count(F.lit(1))
                    * (F.min("cmax") - F.min("cmin") + 1)
                ),
                6,
            ).alias("avg_cust_span_frac"),
            pround(
                F.sum(F.col("fd_max") - F.col("fd_min") + 1)
                / (
                    F.count(F.lit(1))
                    * (F.min("dmax") - F.min("dmin") + 1)
                ),
                6,
            ).alias("avg_day_span_frac"),
            F.sum(
                F.when(
                    (F.col("fc_max") >= _Z_PROBE_LO)
                    & (F.col("fc_min") <= _Z_PROBE_HI),
                    1,
                ).otherwise(0)
            ).alias("files_hit_cust_probe"),
        )
        .orderBy("layout")
    )


_Z_ORACLE_TERMS = " + ".join(
    f"(((r_x // {2**_i}) % 2) * {2**(2*_i+1)}) + (((r_y // {2**_i}) % 2) * {2**(2*_i)})"
    for _i in range(_Z_BITS)
)
ORACLE_PIPELINE_ZORDER_LAYOUT = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey,
         epoch_us(o_orderdate) // 86400000000 AS day
  FROM orders
),
stats AS (
  SELECT min(o_custkey) AS cmin, max(o_custkey) AS cmax,
         min(day) AS dmin, max(day) AS dmax
  FROM base
),
ranked AS (
  SELECT o_custkey, day, cmin, cmax, dmin, dmax,
         ((o_custkey - cmin) * {2**_Z_BITS}) // (cmax - cmin + 1) AS r_x,
         ((day - dmin) * {2**_Z_BITS}) // (dmax - dmin + 1) AS r_y
  FROM base, stats
),
assigned AS (
  SELECT o_custkey, day, cmin, cmax, dmin, dmax,
         (r_y * {2**_Z_BITS}) // ({2**_Z_BITS} * {2**_Z_BITS} // {_Z_FILES}) AS f_linear,
         ({_Z_ORACLE_TERMS}) // ({4**_Z_BITS} // {_Z_FILES}) AS f_zorder
  FROM ranked
),
files AS (
  SELECT layout, f,
         min(o_custkey) AS fc_min, max(o_custkey) AS fc_max,
         min(day) AS fd_min, max(day) AS fd_max,
         min(cmin) AS cmin, min(cmax) AS cmax,
         min(dmin) AS dmin, min(dmax) AS dmax
  FROM (
    SELECT 'linear' AS layout, f_linear AS f, * FROM assigned
    UNION ALL
    SELECT 'zorder' AS layout, f_zorder AS f, * FROM assigned
  )
  GROUP BY layout, f
)
SELECT layout,
       count(*) AS n_files,
       floor(CAST(sum(fc_max - fc_min + 1) AS DOUBLE)
             / (count(*) * (min(cmax) - min(cmin) + 1)) * 1000000 + 0.5)
         / 1000000.0 AS avg_cust_span_frac,
       floor(CAST(sum(fd_max - fd_min + 1) AS DOUBLE)
             / (count(*) * (min(dmax) - min(dmin) + 1)) * 1000000 + 0.5)
         / 1000000.0 AS avg_day_span_frac,
       CAST(sum(CASE WHEN fc_max >= {_Z_PROBE_LO} AND fc_min <= {_Z_PROBE_HI}
                     THEN 1 ELSE 0 END) AS BIGINT) AS files_hit_cust_probe
FROM files
GROUP BY layout ORDER BY layout
"""

QUERIES["pipeline_zorder_layout"] = pipeline_zorder_layout
ORACLE["pipeline_zorder_layout"] = ORACLE_PIPELINE_ZORDER_LAYOUT


# ---------------------------------------------------------------------------
# Mixture epoch planner
# ---------------------------------------------------------------------------

#: Token budget for the mixture plan (tokens ≈ chars/4) and the max
#: number of times any single source may repeat.
_MIX_BUDGET_TOKENS = 100_000
_MIX_MAX_EPOCHS = 4.0


def sample_mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing epoch plan: given a token budget and
    size^0.5-temperature source weights (the
    :func:`sample_temperature_mix` rule), how many EPOCHS of each
    source does the training run consume?  epochs =
    min(cap, weight·budget / source_tokens) — the repetition schedule
    every under-budget source needs (small high-weight sources repeat,
    capped so nothing memorizes), with the realized token count and
    budget share per source.

    Pure planning arithmetic over two tiny aggregates (per-source
    token mass + the 1-row normalizer broadcast): one corpus scan at
    any scale, output rows = number of sources.

    Integer-sum migration (r18 reduce-site sweep): the temperature
    normalizer Z = Σ√tokens is summed as 1e-6-unit longs —
    ``sqrt`` is IEEE-correctly-rounded (identical doubles on both
    engines), so the per-row quantization is bit-identical and the
    sum is exact in any accumulation order; Z is then descaled once.
    The source relation is tiny, but the old float Σ still depended
    on partition order.
    """
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("sum(n_chars div 4)").alias("tokens"),
    )
    z = src.agg(
        (F.sum(quantn(F.sqrt("tokens"), 6)).cast("double") / F.lit(1e6)).alias("z")
    )
    return (
        src.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "tokens",
            pround(F.sqrt("tokens") / F.col("z"), 6).alias("weight"),
            pround(
                F.least(
                    F.lit(_MIX_MAX_EPOCHS),
                    F.sqrt("tokens") / F.col("z") * _MIX_BUDGET_TOKENS / F.col("tokens"),
                ),
                4,
            ).alias("epochs"),
        )
        .withColumn(
            "planned_tokens",
            F.floor(F.col("epochs") * F.col("tokens")).cast("bigint"),
        )
        .withColumn(
            "budget_share",
            pround(F.col("planned_tokens") / F.lit(float(_MIX_BUDGET_TOKENS)), 6),
        )
        .orderBy("source")
    )


ORACLE_SAMPLE_MIXTURE_EPOCH_PLAN = f"""
WITH src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_chars // 4) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
z AS (SELECT CAST(CAST(sum({sql_quantn('sqrt(tokens)', 6)}) AS BIGINT)
             AS DOUBLE) / 1000000.0
        AS z FROM src),
plan0 AS (
  SELECT source, n_docs, tokens,
         floor(sqrt(tokens) / z.z * 1000000 + 0.5) / 1000000.0 AS weight,
         floor(least({_MIX_MAX_EPOCHS},
                     sqrt(tokens) / z.z * {_MIX_BUDGET_TOKENS} / tokens)
               * 10000 + 0.5) / 10000.0 AS epochs
  FROM src, z
)
SELECT source, n_docs, tokens, weight, epochs,
       CAST(floor(epochs * tokens) AS BIGINT) AS planned_tokens,
       floor(CAST(floor(epochs * tokens) AS BIGINT) / {float(_MIX_BUDGET_TOKENS)}
             * 1000000 + 0.5) / 1000000.0 AS budget_share
FROM plan0 ORDER BY source
"""

QUERIES["sample_mixture_epoch_plan"] = sample_mixture_epoch_plan
ORACLE["sample_mixture_epoch_plan"] = ORACLE_SAMPLE_MIXTURE_EPOCH_PLAN


# ---------------------------------------------------------------------------
# Two-sample KS drift check
# ---------------------------------------------------------------------------

#: ECDF range buckets for the distributed KS computation.
_KS_BUCKETS = 256
#: Kolmogorov critical coefficient at alpha = 0.05.
_KS_CALPHA = 1.36


def sample_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift check between the train
    and val splits' quality distributions (mean word length per doc,
    splits from the deterministic content-hash buckets): the standard
    "did my validation set drift from training" gate, emitting the KS
    statistic, the alpha=0.05 critical value, and the verdict.

    Shape: the KS statistic needs both ECDFs at every observed value
    — naively a GLOBAL value-ordered running sum.  This is the
    bucketed two-pass form (the ``text_pack_sequences`` prefix-sum
    discipline): per-distinct-value split counts range-bucket on the
    value axis via a 1-row min/max broadcast, per-bucket split totals
    turn into bucket offsets through a ``_KS_BUCKETS``-row window
    (fixed size, never corpus-sized), and the running ECDFs finish
    inside bucket-partitioned windows.  Output is one row; the only
    broadcasts are 1-row stats and the 256-row offset relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_bucket_col(spark_side=True))
    base = docs.select(
        (
            F.col("n_chars")
            / F.size(F.split(F.trim("text"), " ")).cast("double")
        ).alias("v"),
        bucket.alias("hb"),
    ).where(F.col("hb") < 90)
    tagged = base.select("v", (F.col("hb") < 80).cast("int").alias("is_train"))
    pv = tagged.groupBy("v").agg(
        F.sum("is_train").alias("ca"),
        F.sum(1 - F.col("is_train")).alias("cb"),
    )
    # Optimization r19 (guide §2.4): the 1-row split-size/min-max stats
    # are derivable from the per-distinct-value relation (na = Σ ca,
    # vmin/vmax over the group keys = over the raw rows), so the doc
    # scan + per-doc split kernel feeds ONE aggregate instead of two —
    # exact integer sums either way, identical values.
    stats = pv.agg(
        F.sum("ca").cast("double").alias("na"),
        F.sum("cb").cast("double").alias("nb"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
    )
    nb_ = _KS_BUCKETS
    bucketed = pv.crossJoin(F.broadcast(stats)).withColumn(
        "b",
        F.when(
            F.col("vmax") > F.col("vmin"),
            F.least(
                F.lit(nb_ - 1),
                F.floor(
                    (F.col("v") - F.col("vmin"))
                    / (F.col("vmax") - F.col("vmin"))
                    * nb_
                ),
            ),
        )
        .otherwise(0)
        .cast("int"),
    )
    per_bucket = bucketed.groupBy("b").agg(
        F.sum("ca").alias("sa"), F.sum("cb").alias("sb")
    )
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        "b",
        F.coalesce(F.sum("sa").over(wo), F.lit(0)).alias("offa"),
        F.coalesce(F.sum("sb").over(wo), F.lit(0)).alias("offb"),
    )
    wb = (
        Window.partitionBy("b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gaps = (
        bucketed.join(F.broadcast(offsets), "b")
        .withColumn("cuma", F.col("offa") + F.sum("ca").over(wb))
        .withColumn("cumb", F.col("offb") + F.sum("cb").over(wb))
        .select(
            "na",
            "nb",
            F.abs(
                F.col("cuma") / F.col("na") - F.col("cumb") / F.col("nb")
            ).alias("gap"),
        )
    )
    return gaps.groupBy("na", "nb").agg(F.max("gap").alias("ks_raw")).select(
        F.col("na").cast("long").alias("n_train"),
        F.col("nb").cast("long").alias("n_val"),
        pround("ks_raw", 6).alias("ks_stat"),
        pround(
            F.lit(_KS_CALPHA)
            * F.sqrt((F.col("na") + F.col("nb")) / (F.col("na") * F.col("nb"))),
            6,
        ).alias("ks_critical"),
        (
            F.col("ks_raw")
            > F.lit(_KS_CALPHA)
            * F.sqrt((F.col("na") + F.col("nb")) / (F.col("na") * F.col("nb")))
        ).alias("drifted"),
    )


# Independent oracle formulation: one global value-ordered window ECDF
# (fine at oracle scale) instead of replaying the bucketed prefix sums.
ORACLE_SAMPLE_KS_DRIFT = f"""
WITH base AS (
  SELECT n_chars / CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS v,
         {_bucket_col(spark_side=False)} AS hb
  FROM documents
),
tagged AS (
  SELECT v, CASE WHEN hb < 80 THEN 1 ELSE 0 END AS is_train
  FROM base WHERE hb < 90
),
pv AS (
  SELECT v, sum(is_train) AS ca, sum(1 - is_train) AS cb
  FROM tagged GROUP BY 1
),
st AS (
  SELECT CAST(sum(is_train) AS DOUBLE) AS na,
         CAST(sum(1 - is_train) AS DOUBLE) AS nb
  FROM tagged
),
ecdf AS (
  SELECT sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb, na, nb
  FROM pv CROSS JOIN st
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
ks AS (
  SELECT na, nb, max(abs(cuma / na - cumb / nb)) AS ks_raw
  FROM ecdf GROUP BY 1, 2
)
SELECT CAST(na AS BIGINT) AS n_train,
       CAST(nb AS BIGINT) AS n_val,
       floor(ks_raw * 1000000 + 0.5) / 1000000.0 AS ks_stat,
       floor(({_KS_CALPHA} * sqrt((na + nb) / (na * nb))) * 1000000 + 0.5)
         / 1000000.0 AS ks_critical,
       ks_raw > {_KS_CALPHA} * sqrt((na + nb) / (na * nb)) AS drifted
FROM ks
"""

QUERIES["sample_ks_drift"] = sample_ks_drift
ORACLE["sample_ks_drift"] = ORACLE_SAMPLE_KS_DRIFT
