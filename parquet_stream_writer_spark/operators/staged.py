"""Staged operator pack — implemented and oracle-tested in round 6,
REGISTERED with the driver in round 7 (this module is now in
``operators._modules()``; every key here is live in
``__spark_entry__.queries()``).

Round 6 built these operators in a module OUTSIDE
``operators._modules()``: they shipped fully implemented with DuckDB
oracle twins and local differential tests
(tests/test_staged_operators.py) before going live.  Round 7 flipped
them live by adding ``staged`` to ``_modules()`` — a one-line change.

Keys staged here follow every pack convention: DataFrame-first
implementation, engine-portable arithmetic (pround / hash buckets /
integer-exact comparisons), scale-shape docstrings, and a matching
ANSI-SQL oracle.

Round-7 registration checklist:

1. add ``staged`` to ``operators._modules()`` (after ``pipeline``);
2. add ``events_forecast_baseline`` (1-row backtest-window scalar),
   ``text_bm25_search`` (bounded probe-term-set broadcast),
   ``text_burstiness`` (1-row corpus-size broadcast) and
   ``events_ab_conversion_ztest`` (1-row x 1-row arm-stats cross
   join) to the plan
   sweep's ``_NLJ_OK`` whitelist in tests/test_plan_introspection.py
   — the pre-registration sweep (test_staged_operators.py::
   test_staged_pack_plan_sweep, ``_STAGED_NLJ_OK``) pins the same
   three; ``similarity_mmr_rerank``'s non-equi candidate scan sits
   behind a localCheckpoint and does not appear in its final plan;
3. fold the staged rows of SURVEY §2c into the main inventory (drop
   the "(staged)" marker).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from parquet_stream_writer_spark.functions import cosine_similarity, pround, quant6
from parquet_stream_writer_spark.operators.dedup import _hex_to_int_sql
from parquet_stream_writer_spark.sources import load_table, scan_parallel

QUERIES: dict = {}
ORACLE: dict = {}


# ---------------------------------------------------------------------------
# Weighted median (bucketed two-pass)
# ---------------------------------------------------------------------------

#: Value-range buckets for the distributed weighted-median search.
_WM_BUCKETS = 256


def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median unit price per return flag: the
    weighted-quantile operator (median of l_extendedprice where each
    row counts l_quantity times) — the aggregation exact percentile
    engines cannot do with plain percentile_approx when rows carry
    weights.

    Shape (the sample_ks_drift / pack_sequences prefix discipline):
    per-(flag, value) weight pre-aggregation, a 1-row-per-flag
    min/max/total broadcast, value-range bucketing into
    ``_WM_BUCKETS`` cells, bucket-level weight offsets through a
    bucket-count-sized window, and an in-bucket cumulative weight
    window — no group-sized sort, no single-partition window.  The
    half-total comparison is integer-exact (quantities are integral,
    half = total/2.0 is an exact double), so both engines pick the
    identical LOWER weighted median: the smallest value whose
    cumulative weight reaches half.  Degenerate value skew (all
    weight in one bucket) re-bounds to that bucket's per-VALUE
    relation, which the pre-aggregation already collapsed.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").alias("w"),
    )
    # The (flag, value) weight relation feeds three consumers (stats,
    # bucketing, the in-bucket pass) — checkpoint it lazily so the
    # lineitem scan + pre-aggregation run once, not per branch (the
    # orders_basket_affinity fan-out discipline).
    pv = (
        li.groupBy("flag", "v").agg(F.sum("w").alias("w")).localCheckpoint(eager=False)
    )
    stats = pv.groupBy("flag").agg(
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        F.sum("w").alias("total_w"),
        F.count(F.lit(1)).alias("n_values"),
    )
    nb = _WM_BUCKETS
    bucketed = pv.join(F.broadcast(stats), "flag").withColumn(
        "b",
        F.when(
            F.col("vmax") > F.col("vmin"),
            F.least(
                F.lit(nb - 1),
                F.floor((F.col("v") - F.col("vmin")) / (F.col("vmax") - F.col("vmin")) * nb),
            ),
        )
        .otherwise(0)
        .cast("int"),
    )
    per_bucket = bucketed.groupBy("flag", "b").agg(F.sum("w").alias("bw"))
    wo = (
        Window.partitionBy("flag")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        "flag", "b", F.coalesce(F.sum("bw").over(wo), F.lit(0.0)).alias("off")
    )
    wb = (
        Window.partitionBy("flag", "b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    crossed = (
        bucketed.join(F.broadcast(offsets), ["flag", "b"])
        .withColumn("cumw", F.col("off") + F.sum("w").over(wb))
        .where(F.col("cumw") >= F.col("total_w") / 2.0)
        .groupBy("flag")
        .agg(F.min("v").alias("median_v"))
    )
    return (
        crossed.join(F.broadcast(stats), "flag")
        .select(
            "flag",
            F.col("total_w").cast("long").alias("total_weight"),
            "n_values",
            pround("median_v", 2).alias("weighted_median_price"),
        )
        .orderBy("flag")
    )


# Independent oracle: one flag-partitioned cumulative-weight window.
ORACLE_AGG_WEIGHTED_MEDIAN = """
WITH pv AS (
  SELECT l_returnflag AS flag, l_extendedprice AS v, sum(l_quantity) AS w
  FROM lineitem GROUP BY 1, 2
),
st AS (
  SELECT flag, sum(w) AS total_w, count(*) AS n_values FROM pv GROUP BY 1
),
cum AS (
  SELECT pv.flag, v, st.total_w, st.n_values,
         sum(w) OVER (PARTITION BY pv.flag ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw
  FROM pv JOIN st ON pv.flag = st.flag
)
SELECT flag,
       CAST(total_w AS BIGINT) AS total_weight,
       n_values,
       floor(min(v) FILTER (WHERE cumw >= total_w / 2.0) * 100 + 0.5) / 100.0
         AS weighted_median_price
FROM cum
GROUP BY flag, total_w, n_values
ORDER BY flag
"""

QUERIES["agg_weighted_median"] = agg_weighted_median
ORACLE["agg_weighted_median"] = ORACLE_AGG_WEIGHTED_MEDIAN


# ---------------------------------------------------------------------------
# Gumbel / Efraimidis–Spirakis weighted top-k sampling
# ---------------------------------------------------------------------------

#: Sample size per source.
_GK_K = 10
#: Hash-uniform resolution (8 hex chars of md5).
_GK_SCALE = 16**8


def sample_gumbel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministically: the
    Efraimidis–Spirakis one-pass scheme — every doc gets the key
    ``ln(u) / w`` (u a content-hash uniform in (0,1), w = n_chars),
    and the top-``_GK_K`` keys per source are exactly a w-weighted
    sample without replacement.  Unlike `sample_importance_weighted`
    (independent keep/drop coin flips), this draws a FIXED-SIZE
    sample with inclusion probability proportional to weight — the
    shape used to cap per-source contributions while preferring
    substantive documents.

    No RNG state: u derives from the same md5 content hash every
    sampler in the pack uses (conv() fast path Spark-side, portable
    instr-sum in the oracle), so the sample is stable under re-runs,
    repartitioning, and scale-out.  The selection is a per-source
    top-k window (WindowGroupLimit prunes below rank k before the
    sort at scale); the transcendental key is used ONLY for ordering
    and never emitted, so a 1-ulp libm difference cannot perturb the
    value hash (keys of distinct docs are ~1/n² separated).
    Zero-weight docs (empty text) are excluded up front: their
    inclusion probability is proportionally zero, and the unguarded
    ``ln(u)/0`` diverges between engines (Spark nulls, IEEE gives
    -inf) — caught by the adversarial-corpus sweep.
    """
    docs = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u = (
        F.expr(
            "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)"
        )
        + 1
    ) / F.lit(float(_GK_SCALE + 2))
    key = F.log(u) / F.col("n_chars")
    w = Window.partitionBy("source").orderBy(F.desc("gk"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "source", "n_chars", key.alias("gk"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _GK_K)
        .select(
            "source",
            F.col("rk").cast("int").alias("rk"),
            "doc_id",
            F.col("n_chars").alias("weight"),
        )
        .orderBy("source", "rk")
    )


ORACLE_SAMPLE_GUMBEL_TOPK = f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         ln((CAST({_hex_to_int_sql("md5(CAST(doc_id AS VARCHAR))", 8)} AS BIGINT) + 1)
            / {float(_GK_SCALE + 2)!r}) / n_chars AS gk
  FROM documents WHERE n_chars > 0
),
ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY gk DESC, doc_id ASC) AS rk
  FROM keyed
)
SELECT source, CAST(rk AS INTEGER) AS rk, doc_id, n_chars AS weight
FROM ranked WHERE rk <= {_GK_K}
ORDER BY source, rk
"""

QUERIES["sample_gumbel_topk"] = sample_gumbel_topk
ORACLE["sample_gumbel_topk"] = ORACLE_SAMPLE_GUMBEL_TOPK


# ---------------------------------------------------------------------------
# Interval-overlap join (day-bucketed)
# ---------------------------------------------------------------------------

#: Activity-interval length in days, and the O-side restriction window.
_IV_DAYS = 5
_IV_YEAR = 1995
_IV_MAX_MONTH = 2
_IV_TOP = 20


def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: for each open-status order placed in the
    first ``_IV_MAX_MONTH`` months of ``_IV_YEAR``, how many
    fulfilled-status orders have an overlapping ``_IV_DAYS``-day
    activity window — the classic temporal-overlap operator
    (conflicting bookings, concurrent campaigns, co-active sessions)
    that plain equi/as-of joins cannot express.

    Shape: a naive overlap join is a non-equi range predicate —
    BroadcastNestedLoop at best, quadratic at worst.  The scalable
    form BUCKETS time: each interval explodes into its ≤``_IV_DAYS``
    covered calendar days (map-side sequence/explode), the join is a
    plain DAY-equi hash join, and countDistinct collapses multi-day
    matches.  Day-aligned ``_IV_DAYS``-day intervals overlap iff they
    share a calendar day, so the rewrite is EXACT — which the oracle
    proves by running the textbook non-equi |Δdays| < N join
    (DuckDB plans it as an IEJoin).  Output: top ``_IV_TOP`` O-side
    orders by overlap count (TakeOrdered, never a global sort).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.to_date("o_orderdate").alias("d")
    )
    days = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(_IV_DAYS - 1)),
            lambda i: F.date_add(F.col("d"), i),
        )
    ).alias("day")
    oside = (
        orders.where(
            (F.col("o_orderstatus") == "O")
            & (F.year("d") == _IV_YEAR)
            & (F.month("d") <= _IV_MAX_MONTH)
        )
        .select(F.col("o_orderkey").alias("okey"), days)
    )
    fside = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("fkey"), days
    )
    return (
        oside.join(fside, "day")
        .groupBy("okey")
        .agg(F.countDistinct("fkey").alias("n_overlapping"))
        .orderBy(F.desc("n_overlapping"), F.asc("okey"))
        .limit(_IV_TOP)
    )


ORACLE_JOIN_INTERVAL_OVERLAP = f"""
WITH o AS (
  SELECT o_orderkey AS okey, CAST(o_orderdate AS DATE) AS d
  FROM orders
  WHERE o_orderstatus = 'O' AND year(o_orderdate) = {_IV_YEAR}
    AND month(o_orderdate) <= {_IV_MAX_MONTH}
),
f AS (
  SELECT o_orderkey AS fkey, CAST(o_orderdate AS DATE) AS d
  FROM orders WHERE o_orderstatus = 'F'
)
SELECT okey, count(DISTINCT fkey) AS n_overlapping
FROM o JOIN f ON abs(date_diff('day', o.d, f.d)) < {_IV_DAYS}
GROUP BY okey
ORDER BY n_overlapping DESC, okey ASC
LIMIT {_IV_TOP}
"""

QUERIES["join_interval_overlap"] = join_interval_overlap
ORACLE["join_interval_overlap"] = ORACLE_JOIN_INTERVAL_OVERLAP


# ---------------------------------------------------------------------------
# DAU/MAU stickiness
# ---------------------------------------------------------------------------

#: Trailing window for "monthly" actives, in days.
_MAU_DAYS = 30


def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily stickiness: DAU / trailing-30-day MAU per day — the
    engagement ratio product analytics tracks everywhere, and a
    rolling-DISTINCT problem (MAU is not a sum of DAUs; users repeat).

    Shape (the `events_wau_rolling` discipline at 30 days): reduce to
    distinct (user, day) pairs first — the only corpus-sized shuffle —
    then explode each pair into the ≤``_MAU_DAYS`` target days it
    keeps a user active for, and countDistinct per target day.  The
    explode multiplies the DEDUPED pair relation, not raw events.
    Stickiness divides two exact integers (deterministic in both
    engines at any rounding).  Only days with observed activity are
    emitted.
    """
    ev = load_table(spark, sf_dir, "events")
    # Optimization r18 (guide §5): the deduped (user, day) relation
    # feeds both the DAU aggregate and the MAU explode — checkpoint so
    # the events scan + distinct runs once.
    pairs = (
        ev.select("user_id", F.date_trunc("day", "ts").alias("day"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    dau = pairs.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    target = pairs.select(
        "user_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_MAU_DAYS - 1)),
                lambda i: F.col("day") + F.make_dt_interval(days=i),
            )
        ).alias("day"),
    )
    mau = target.groupBy("day").agg(F.countDistinct("user_id").alias("mau"))
    return (
        dau.join(mau, "day")
        .select(
            "day",
            "dau",
            "mau",
            pround(F.col("dau") / F.col("mau"), 4).alias("stickiness"),
        )
        .orderBy("day")
    )


ORACLE_EVENTS_DAU_MAU = f"""
WITH pairs AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM pairs GROUP BY 1),
mau AS (
  SELECT d.day, count(DISTINCT p.user_id) AS mau
  FROM (SELECT DISTINCT day FROM pairs) d
  JOIN pairs p
    ON p.day <= d.day AND p.day > d.day - INTERVAL {_MAU_DAYS} DAY
  GROUP BY 1
)
SELECT dau.day, dau, mau,
       floor((CAST(dau AS DOUBLE) / mau) * 10000 + 0.5) / 10000.0 AS stickiness
FROM dau JOIN mau ON dau.day = mau.day
ORDER BY dau.day
"""

QUERIES["events_dau_mau_stickiness"] = events_dau_mau_stickiness
ORACLE["events_dau_mau_stickiness"] = ORACLE_EVENTS_DAU_MAU


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance re-ranking
# ---------------------------------------------------------------------------

#: MMR trade-off (1.0 = pure relevance), candidate pool, output size.
_MMR_LAMBDA = 0.7
_MMR_CANDS = 30
_MMR_K = 10
#: Fixed query set (the similarity-family convention).
_MMR_QUERIES = 5


def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking of retrieval results:
    greedily pick ``_MMR_K`` of each query's top-``_MMR_CANDS``
    candidates maximizing ``λ·relevance − (1−λ)·max-sim-to-already-
    selected`` — the standard diversification pass between ANN
    retrieval and a RAG/labeling consumer, which plain top-k cannot
    express (near-duplicate hits crowd the list).

    Shape: candidate retrieval is the exact broadcast-query scan
    (`similarity_cosine_topk` shape) and the pairwise-sim relation
    (≤ queries×30² rows) is one checkpointed self-join; the greedy
    selection itself is a per-``qid`` sequential algorithm over that
    BOUNDED state, so it runs as ONE Arrow-batched ``applyInPandas``
    group kernel — queries parallelize across executors and there are
    no per-round global barriers (an earlier draft iterated ``_MMR_K``
    DataFrame rounds; at 10 rounds the job-launch latency dominated
    and the sequential barriers would serialize a million-query
    workload).  The kernel never computes a dot product: it re-reads
    the 4-dp-rounded Spark similarities and applies the identical
    λ-arithmetic on IEEE doubles (ties → vec_id), so the greedy
    trajectory is engine-exact; the oracle replays it as an unrolled
    per-round CTE chain.
    """
    import pandas as pd
    from parquet_stream_writer_spark.operators.similarity import _emb

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < _MMR_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb")
    )
    scored = emb.join(F.broadcast(queries), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "vec_id",
        "emb",
        pround(cosine_similarity(F.col("qemb"), F.col("emb")), 4).alias("rel"),
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("rel"), F.asc("vec_id"))
    cands = (
        scored.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= _MMR_CANDS)
        .select("qid", "vec_id", "rel", "emb")
        .localCheckpoint(eager=False)
    )
    c1 = cands.select("qid", F.col("vec_id").alias("a"), F.col("emb").alias("ea"))
    c2 = cands.select("qid", F.col("vec_id").alias("b"), F.col("emb").alias("eb"))
    pairs = (
        c1.join(c2, "qid")
        .where(F.col("a") != F.col("b"))
        .select(
            "qid",
            "a",
            "b",
            pround(cosine_similarity(F.col("ea"), F.col("eb")), 4).alias("s"),
        )
        .localCheckpoint(eager=False)
    )
    lam, mu = _MMR_LAMBDA, 1.0 - _MMR_LAMBDA
    k = _MMR_K
    # One row per (candidate a, candidate b) pair, carrying a's
    # relevance — the complete per-qid greedy state in one relation.
    state = pairs.join(
        cands.select("qid", F.col("vec_id").alias("a"), F.col("rel")), ["qid", "a"]
    )

    def greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        qid = int(pdf["qid"].iloc[0])
        rel = dict(pdf.groupby("a")["rel"].first())
        sim: dict = {}
        for a, b, s in zip(pdf["a"], pdf["b"], pdf["s"]):
            sim[(int(a), int(b))] = float(s)
        remaining = sorted(rel)  # vec_id ascending = the tie order
        out = []
        selected: list = []
        for pos in range(1, min(k, len(remaining)) + 1):
            best = None
            for a in remaining:
                if selected:
                    ms = max(sim[(a, b)] for b in selected)
                    score = lam * rel[a] - mu * ms
                else:
                    score = lam * rel[a]
                # strict > keeps the FIRST (lowest vec_id) on ties,
                # matching the (score DESC, vec_id ASC) window order.
                if best is None or score > best[1]:
                    best = (a, score)
            a, score = best
            out.append((qid, pos, a, rel[a], score))
            selected.append(a)
            remaining.remove(a)
        return pd.DataFrame(
            out, columns=["qid", "pos", "vec_id", "relevance", "mmr_score"]
        )

    sel = state.groupBy("qid").applyInPandas(
        greedy,
        schema="qid long, pos int, vec_id long, relevance double, mmr_score double",
    )
    return sel.select(
        "qid",
        "pos",
        "vec_id",
        "relevance",
        pround("mmr_score", 6).alias("mmr_score"),
    ).orderBy("qid", "pos")


# Unrolled-CTE greedy replay (module-level code, not a helper fn).
_MMR_ORACLE_PARTS = [
    f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (SELECT vec_id AS qid, emb AS qemb FROM emb WHERE vec_id < {_MMR_QUERIES}),
scored AS (
  SELECT q.qid, e.vec_id, e.emb,
         floor(list_cosine_similarity(q.qemb, e.emb) * 10000 + 0.5) / 10000.0 AS rel
  FROM emb e JOIN q ON e.vec_id <> q.qid
),
cand AS MATERIALIZED (
  SELECT qid, vec_id, emb, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id ASC) AS rn
    FROM scored
  ) WHERE rn <= {_MMR_CANDS}
),
cpair AS MATERIALIZED (
  SELECT c1.qid, c1.vec_id AS a, c2.vec_id AS b,
         floor(list_cosine_similarity(c1.emb, c2.emb) * 10000 + 0.5) / 10000.0 AS s
  FROM cand c1 JOIN cand c2 ON c1.qid = c2.qid AND c1.vec_id <> c2.vec_id
),
sel1 AS MATERIALIZED (
  SELECT qid, vec_id, rel, {_MMR_LAMBDA!r} * rel AS score, 1 AS pos FROM (
    SELECT qid, vec_id, rel,
           row_number() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id ASC) AS rn
    FROM cand
  ) WHERE rn = 1
)"""
]
for _r in range(2, _MMR_K + 1):
    _MMR_ORACLE_PARTS.append(
        f""",
msr{_r} AS MATERIALIZED (
  SELECT p.qid, p.a AS vec_id, max(p.s) AS ms
  FROM cpair p JOIN sel{_r - 1} s ON p.qid = s.qid AND p.b = s.vec_id
  GROUP BY 1, 2
),
pick{_r} AS MATERIALIZED (
  SELECT qid, vec_id, rel, score, {_r} AS pos FROM (
    SELECT c.qid, c.vec_id, c.rel,
           {_MMR_LAMBDA!r} * c.rel - {1.0 - _MMR_LAMBDA!r} * m.ms AS score,
           row_number() OVER (PARTITION BY c.qid
             ORDER BY ({_MMR_LAMBDA!r} * c.rel - {1.0 - _MMR_LAMBDA!r} * m.ms) DESC,
                      c.vec_id ASC) AS rn
    FROM cand c
    JOIN msr{_r} m ON c.qid = m.qid AND c.vec_id = m.vec_id
    WHERE NOT EXISTS (
      SELECT 1 FROM sel{_r - 1} s WHERE s.qid = c.qid AND s.vec_id = c.vec_id)
  ) WHERE rn = 1
),
sel{_r} AS MATERIALIZED (SELECT * FROM sel{_r - 1} UNION ALL SELECT * FROM pick{_r})"""
    )
_MMR_ORACLE_PARTS.append(
    f"""
SELECT qid, CAST(pos AS INTEGER) AS pos, vec_id, rel AS relevance,
       floor(score * 1000000 + 0.5) / 1000000.0 AS mmr_score
FROM sel{_MMR_K}
ORDER BY qid, pos
"""
)
ORACLE_SIMILARITY_MMR_RERANK = "".join(_MMR_ORACLE_PARTS)

QUERIES["similarity_mmr_rerank"] = similarity_mmr_rerank
ORACLE["similarity_mmr_rerank"] = ORACLE_SIMILARITY_MMR_RERANK


# ---------------------------------------------------------------------------
# As-of join with staleness tolerance
# ---------------------------------------------------------------------------

#: Maximum allowed staleness of the matched order, in days.
_ASOF_TOL_DAYS = 8500


def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join with a STALENESS BOUND: each event matches
    its user's most recent at-or-before order only if that order is
    at most ``_ASOF_TOL_DAYS`` days old at event time — the
    feature-store contract ("use the latest feature value, but never
    one older than X") that a plain as-of join cannot express.

    Same union-then-window shape as ``join_asof`` (one user-keyed
    shuffle, no range explosion); the tolerance is a map-side
    post-filter on the carried match, nulling stale matches and
    flagging them, so the scale profile is identical.  Oracle: DuckDB
    native ASOF JOIN + the same CASE.
    """
    from parquet_stream_writer_spark.sources import load_events

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
        F.struct(F.col("t").alias("o_date"), F.col("okey").alias("o_key")).alias(
            "ord"
        ),
    )
    event_side = ev.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("kind"),
        "event_id",
        F.lit(None).cast("struct<o_date:timestamp_ntz,o_key:bigint>").alias("ord"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = order_side.unionByName(event_side).withColumn(
        "last_ord", F.last("ord", ignorenulls=True).over(w)
    )
    stale_days = F.datediff(F.to_date("t"), F.to_date("last_ord.o_date"))
    fresh = F.col("last_ord").isNotNull() & (stale_days <= _ASOF_TOL_DAYS)
    return merged.where(F.col("kind") == 1).select(
        "event_id",
        "user_id",
        F.col("t").alias("ts"),
        F.when(fresh, F.col("last_ord.o_key")).alias("o_orderkey"),
        F.when(fresh, stale_days).cast("long").alias("staleness_days"),
        (F.col("last_ord").isNotNull() & ~fresh).alias("match_too_stale"),
    )


ORACLE_JOIN_ASOF_TOLERANCE = f"""
WITH o AS (
  SELECT o_custkey AS user_id, CAST(o_orderdate AS TIMESTAMP) AS t,
         max(o_orderkey) AS okey
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT e.event_id, e.user_id, e.ts, o.okey, o.t AS o_date
  FROM events e ASOF LEFT JOIN o
    ON e.user_id = o.user_id AND e.ts >= o.t
)
SELECT event_id, user_id, ts,
       CASE WHEN okey IS NOT NULL
                 AND date_diff('day', CAST(o_date AS DATE), CAST(ts AS DATE))
                     <= {_ASOF_TOL_DAYS}
            THEN okey END AS o_orderkey,
       CASE WHEN okey IS NOT NULL
                 AND date_diff('day', CAST(o_date AS DATE), CAST(ts AS DATE))
                     <= {_ASOF_TOL_DAYS}
            THEN CAST(date_diff('day', CAST(o_date AS DATE), CAST(ts AS DATE))
                      AS BIGINT) END AS staleness_days,
       (okey IS NOT NULL
        AND date_diff('day', CAST(o_date AS DATE), CAST(ts AS DATE))
            > {_ASOF_TOL_DAYS}) AS match_too_stale
FROM m
"""

QUERIES["join_asof_tolerance"] = join_asof_tolerance
ORACLE["join_asof_tolerance"] = ORACLE_JOIN_ASOF_TOLERANCE


# ---------------------------------------------------------------------------
# Daily-series autocorrelation
# ---------------------------------------------------------------------------

#: Lags (in days) to report.
_AC_LAGS = (1, 7)


def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation of the daily event-count series (k = 1
    and 7): the standard seasonality/trend screen before forecasting.

    Exactness discipline: Pearson r is computed from the six INTEGER
    co-moment sums (n, Σx, Σy, Σxy, Σx², Σy²) rather than an engine
    ``corr()`` — every input to the final expression is an exact
    integer in both engines, so the resulting double (and its
    rounding) is bit-identical.  Shape: one corpus-scale day
    aggregate; each lag is then a day-key self-equi-join of the tiny
    daily relation.  Zero-variance series emit NULL.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    out = None
    for k in _AC_LAGS:
        a = daily.select(F.col("day").alias("d"), F.col("c").alias("x"))
        b = daily.select(
            (F.col("day") - F.make_dt_interval(days=F.lit(k))).alias("d"),
            F.col("c").alias("y"),
        )
        sums = (
            a.join(b, "d")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("x").alias("sx"),
                F.sum("y").alias("sy"),
                F.sum(F.col("x") * F.col("y")).alias("sxy"),
                F.sum(F.col("x") * F.col("x")).alias("sxx"),
                F.sum(F.col("y") * F.col("y")).alias("syy"),
            )
        )
        num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
        varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
        vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
        row = sums.select(
            F.lit(k).alias("lag_days"),
            F.col("n").alias("n_pairs"),
            F.when(
                (varx > 0) & (vary > 0),
                pround(num / F.sqrt(varx.cast("double") * vary.cast("double")), 6),
            ).alias("autocorr"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("lag_days")


ORACLE_EVENTS_AUTOCORRELATION = "\nUNION ALL\n".join(
    f"""
SELECT {k} AS lag_days, n AS n_pairs,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN floor(((n * sxy - sx * sy)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))) * 1000000 + 0.5)
                 / 1000000.0
       END AS autocorr
FROM (
  SELECT count(*) AS n, sum(a.c) AS sx, sum(b.c) AS sy,
         sum(a.c * b.c) AS sxy, sum(a.c * a.c) AS sxx, sum(b.c * b.c) AS syy
  FROM (SELECT date_trunc('day', ts) AS day, count(*) AS c FROM events GROUP BY 1) a
  JOIN (SELECT date_trunc('day', ts) AS day, count(*) AS c FROM events GROUP BY 1) b
    ON a.day = b.day + INTERVAL {k} DAY
)"""
    for k in _AC_LAGS
) + "\nORDER BY lag_days"

QUERIES["events_autocorrelation"] = events_autocorrelation
ORACLE["events_autocorrelation"] = ORACLE_EVENTS_AUTOCORRELATION


# ---------------------------------------------------------------------------
# Chi-square independence test
# ---------------------------------------------------------------------------

#: 0.05 chi² critical values for df = 1..60 (standard table) — the
#: verdict is derived from the COMPUTED dof, not a fixed df=24
#: assumption, so corpora with other type×weekday shapes are labeled
#: correctly; dof outside the table (0, or > 60) yields NULL.
_CHI2_CRIT_05 = [
    3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067, 15.507, 16.919,
    18.307, 19.675, 21.026, 22.362, 23.685, 24.996, 26.296, 27.587, 28.869,
    30.144, 31.410, 32.671, 33.924, 35.172, 36.415, 37.652, 38.885, 40.113,
    41.337, 42.557, 43.773, 44.985, 46.194, 47.400, 48.602, 49.802, 50.998,
    52.192, 53.384, 54.572, 55.758, 56.942, 58.124, 59.304, 60.481, 61.656,
    62.830, 64.001, 65.171, 66.339, 67.505, 68.669, 69.832, 70.993, 72.153,
    73.311, 74.468, 75.624, 76.778, 77.931, 79.082,
]


def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    day-of-week: "is traffic mix stable across the week, or do some
    event types cluster on some days" — the categorical-drift screen.

    One fixed-width contingency aggregate (≤ types×7 cells); row and
    column totals are windows over that bounded cell relation, never
    the corpus.  All chi² inputs are exact integers (observed counts
    and their products; expected = row·col/total is the only
    division); each cell's (o−e)²/e term quantizes to a 1e-6-unit
    LONG before the sum (round-13 migration of the fractional-sum
    latent class — the old float Σ term accumulated in partition
    order), so the statistic and the critical-value comparison are
    computed from exact integers in both engines — exact while each
    cell's term stays under ~9e12 (int64/1e6; a contingency skewed
    enough to exceed that needs per-cell ingest bounds first), and
    assuming ln/log2 agree to the ulp at a floor boundary (the
    residual cross-engine sensitivity is ±1 unit in 1e-6, absorbed
    unless the final 6-dp rounding also straddles a boundary).  The
    weekday uses the engine-portable integer epoch-day arithmetic
    (``events_seasonality_profile`` convention, Monday = 0).
    """
    ev = load_table(spark, sf_dir, "events")
    us = "unix_micros(cast(ts as timestamp))"
    cells = ev.select(
        "event_type", F.expr(f"({us} div 86400000000 + 3) % 7").alias("dow")
    ).groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("o"))
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("dow")
    wt = Window.partitionBy()
    staged_ = (
        cells.withColumn("rt", F.sum("o").over(wr))
        .withColumn("ct", F.sum("o").over(wc))
        .withColumn("t", F.sum("o").over(wt))
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("t")
    term6 = quant6((F.col("o") - e) * (F.col("o") - e) / e)
    agged = staged_.agg(
        F.sum("o").cast("long").alias("n_events"),
        ((F.countDistinct("event_type") - 1) * (F.countDistinct("dow") - 1))
        .cast("long")
        .alias("dof"),
        pround(F.sum(term6) / 1000000.0, 6).alias("chi2"),
        (F.sum(term6) / 1000000.0).alias("_chi2_raw"),
    )
    # try_element_at nulls an out-of-range index but still rejects
    # index 0 (INVALID_INDEX_OF_ZERO) — guard the degenerate
    # single-row/single-column contingency (dof = 0) explicitly.
    crit = F.when(
        F.col("dof") >= 1,
        F.try_element_at(
            F.array(*[F.lit(v) for v in _CHI2_CRIT_05]), F.col("dof").cast("int")
        ),
    )
    return agged.select(
        "n_events",
        "dof",
        "chi2",
        (F.col("_chi2_raw") > crit).alias("dependent_at_05"),
    )


ORACLE_AGG_CHI_SQUARE = f"""
WITH cells AS (
  SELECT event_type, (epoch_us(ts) // 86400000000 + 3) % 7 AS dow,
         count(*) AS o
  FROM events GROUP BY 1, 2
),
staged_ AS (
  SELECT o,
         sum(o) OVER (PARTITION BY event_type) AS rt,
         sum(o) OVER (PARTITION BY dow) AS ct,
         sum(o) OVER () AS t,
         event_type, dow
  FROM cells
)
, terms AS (
  SELECT o, event_type, dow,
         CAST(floor((o - CAST(rt AS DOUBLE) * ct / t)
                    * (o - CAST(rt AS DOUBLE) * ct / t)
                    / (CAST(rt AS DOUBLE) * ct / t) * 1000000 + 0.5)
              AS BIGINT) AS term6
  FROM staged_
)
, agged AS (
  SELECT CAST(sum(o) AS BIGINT) AS n_events,
         CAST((count(DISTINCT event_type) - 1) * (count(DISTINCT dow) - 1) AS BIGINT)
           AS dof,
         floor(CAST(sum(term6) AS DOUBLE) / 1000000.0 * 1000000 + 0.5)
           / 1000000.0 AS chi2,
         CAST(sum(term6) AS DOUBLE) / 1000000.0 AS chi2_raw
  FROM terms
)
SELECT n_events, dof, chi2,
       chi2_raw > ([{", ".join(str(v) for v in _CHI2_CRIT_05)}][dof])
         AS dependent_at_05
FROM agged
"""

QUERIES["agg_chi_square_independence"] = agg_chi_square_independence
ORACLE["agg_chi_square_independence"] = ORACLE_AGG_CHI_SQUARE


# ---------------------------------------------------------------------------
# Lorenz curve (revenue concentration by customer)
# ---------------------------------------------------------------------------

#: Bottom-percentile points to report, and the value-range buckets.
_LZ_POINTS = (25, 50, 75, 90)
_LZ_BUCKETS = 256


def orders_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Lorenz points per nation: what share of
    a nation's order revenue comes from its bottom 25/50/75/90% of
    customers — the inequality curve behind every "whale" analysis
    (complementing `window_ntile_cume`'s deciles and
    `events_user_gini`'s scalar with exact curve points).

    Exactness discipline: revenue is converted to INTEGER CENTS at
    the source (floor(x·100+0.5) per order), so every cumulative sum,
    crossing comparison, and partial take at the boundary value is
    integer arithmetic — both engines compute bit-identical shares.
    Customers tied at the crossing value are taken PARTIALLY
    (k − cum_prev of them), which is exact because they all hold the
    same cents value.

    Shape: per-customer cents aggregate (corpus shuffle), nation join
    broadcast, per-(nation, cents) value collapse, then the bucketed
    two-pass prefix (25-row stats broadcast, per-nation 256-bucket
    offsets window, in-bucket cumulative window) — no nation-sized
    sort partition.  The 4 Lorenz points explode map-side from a
    literal array, never a join.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(F.sum("cents").alias("v"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), "v")
    )
    # Optimization r18 (guide §5): the value-collapsed relation feeds
    # the stats aggregate AND the bucketing pass — checkpoint it so
    # the orders aggregate + dim joins run once (the agg_weighted_median
    # fan-out discipline, which this key predated).
    pv = (
        per_cust.groupBy("nation", "v")
        .agg(F.count(F.lit(1)).alias("n_v"))
        .localCheckpoint(eager=False)
    )
    stats = pv.groupBy("nation").agg(
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        F.sum(F.col("n_v")).alias("n_cust"),
        F.sum(F.col("n_v") * F.col("v")).alias("total_cents"),
    )
    nb = _LZ_BUCKETS
    bucketed = pv.join(F.broadcast(stats), "nation").withColumn(
        "b",
        F.when(
            F.col("vmax") > F.col("vmin"),
            F.least(
                F.lit(nb - 1),
                F.floor(
                    (F.col("v") - F.col("vmin"))
                    / (F.col("vmax") - F.col("vmin")).cast("double")
                    * nb
                ),
            ),
        )
        .otherwise(0)
        .cast("int"),
    )
    per_bucket = bucketed.groupBy("nation", "b").agg(
        F.sum("n_v").alias("bn"), F.sum(F.col("n_v") * F.col("v")).alias("brev")
    )
    wo = (
        Window.partitionBy("nation")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        "nation",
        "b",
        F.coalesce(F.sum("bn").over(wo), F.lit(0)).alias("offn"),
        F.coalesce(F.sum("brev").over(wo), F.lit(0)).alias("offrev"),
    )
    wb = (
        Window.partitionBy("nation", "b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rows = (
        bucketed.join(F.broadcast(offsets), ["nation", "b"])
        .withColumn("cumn", F.col("offn") + F.sum("n_v").over(wb))
        .withColumn("cumrev", F.col("offrev") + F.sum(F.col("n_v") * F.col("v")).over(wb))
    )
    p = F.explode(F.array(*[F.lit(x) for x in _LZ_POINTS])).alias("p")
    pointed = rows.select("nation", "v", "n_v", "cumn", "cumrev", "n_cust", "total_cents", p)
    k = ((F.col("p") * F.col("n_cust") + 99) / 100).cast("long")  # ceil(p*N/100)
    crossing = pointed.where(
        ((F.col("cumn") - F.col("n_v")) < k) & (k <= F.col("cumn"))
    )
    bottom = (
        F.col("cumrev")
        - F.col("n_v") * F.col("v")
        + (k - (F.col("cumn") - F.col("n_v"))) * F.col("v")
    )
    return crossing.select(
        "nation",
        F.col("p").cast("int").alias("bottom_pct"),
        F.col("n_cust").cast("long").alias("n_customers"),
        k.alias("k_customers"),
        pround(bottom.cast("double") / F.col("total_cents"), 6).alias(
            "revenue_share"
        ),
    ).orderBy("nation", "bottom_pct")


ORACLE_ORDERS_LORENZ_CURVE = f"""
WITH per_cust AS (
  SELECT n_name AS nation,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, o_custkey
),
pv AS (SELECT nation, v, count(*) AS n_v FROM per_cust GROUP BY 1, 2),
st AS (
  SELECT nation, sum(n_v) AS n_cust, sum(n_v * v) AS total_cents
  FROM pv GROUP BY 1
),
cum AS (
  SELECT pv.nation, v, n_v, st.n_cust, st.total_cents,
         sum(n_v) OVER w AS cumn,
         sum(n_v * v) OVER w AS cumrev
  FROM pv JOIN st ON pv.nation = st.nation
  WINDOW w AS (PARTITION BY pv.nation ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
pointed AS (
  SELECT cum.*, p.p, (p.p * n_cust + 99) // 100 AS k
  FROM cum CROSS JOIN (VALUES {", ".join(f"({x})" for x in _LZ_POINTS)}) p(p)
)
SELECT nation,
       CAST(p AS INTEGER) AS bottom_pct,
       CAST(n_cust AS BIGINT) AS n_customers,
       CAST(k AS BIGINT) AS k_customers,
       floor((CAST(cumrev - n_v * v + (k - (cumn - n_v)) * v AS DOUBLE)
              / total_cents) * 1000000 + 0.5) / 1000000.0 AS revenue_share
FROM pointed
WHERE (cumn - n_v) < k AND k <= cumn
ORDER BY nation, bottom_pct
"""

QUERIES["orders_lorenz_curve"] = orders_lorenz_curve
ORACLE["orders_lorenz_curve"] = ORACLE_ORDERS_LORENZ_CURVE


# ---------------------------------------------------------------------------
# Term burstiness (index of dispersion)
# ---------------------------------------------------------------------------

#: Report size: the top corpus terms by total occurrences.
_BURST_TOP = 20


def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness: the variance-to-mean ratio (index of
    dispersion) of each top term's per-document count — terms with
    dispersion ≫ 1 cluster in few documents (topical/bursty), ≈ 1 is
    Poisson background, < 1 is anti-bursty (function words).  The
    signal behind burstiness-aware TF weighting and boilerplate
    screens.

    Exactness discipline: over all N docs (zeros included), dispersion
    = var/mean = (N·Σc² − (Σc)²) / (N·Σc) with every term an exact
    integer — both engines compute bit-identical doubles.  Shape: one
    map-side tokenize + (doc, term) count, one term-keyed aggregate,
    1-row corpus-size broadcast, TakeOrdered top-``_BURST_TOP``.
    """
    docs = scan_parallel(spark, sf_dir, "documents", "doc_id")
    ndocs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tc = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_term = tc.groupBy("tok").agg(
        F.sum("c").alias("total"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.count(F.lit(1)).alias("df"),
    )
    disp = (
        (F.col("n_docs") * F.col("s2") - F.col("total") * F.col("total"))
        .cast("double")
        / (F.col("n_docs") * F.col("total"))
    )
    return (
        per_term.crossJoin(F.broadcast(ndocs))
        .select(
            "tok",
            "total",
            "df",
            pround(F.col("total").cast("double") / F.col("n_docs"), 6).alias(
                "mean_per_doc"
            ),
            pround(disp, 6).alias("dispersion"),
        )
        .orderBy(F.desc("total"), F.asc("tok"))
        .limit(_BURST_TOP)
    )


ORACLE_TEXT_BURSTINESS = f"""
WITH nd AS (SELECT count(*) AS n_docs FROM documents),
tc AS (
  SELECT doc_id, tok, count(*) AS c FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY 1, 2
),
per_term AS (
  SELECT tok, sum(c) AS total, sum(c * c) AS s2, count(*) AS df
  FROM tc GROUP BY 1
)
SELECT tok,
       CAST(total AS BIGINT) AS total,
       df,
       floor((CAST(total AS DOUBLE) / n_docs) * 1000000 + 0.5) / 1000000.0
         AS mean_per_doc,
       floor((CAST(n_docs * s2 - total * total AS DOUBLE) / (n_docs * total))
             * 1000000 + 0.5) / 1000000.0 AS dispersion
FROM per_term CROSS JOIN nd
ORDER BY total DESC, tok ASC
LIMIT {_BURST_TOP}
"""

QUERIES["text_burstiness"] = text_burstiness
ORACLE["text_burstiness"] = ORACLE_TEXT_BURSTINESS


# ---------------------------------------------------------------------------
# BM25 text retrieval
# ---------------------------------------------------------------------------

#: BM25 shape parameters, probe-set size, and result depth.
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_PROBES = 5
_BM25_TOP = 10


def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text similar-document retrieval: for each of the
    ``_BM25_PROBES`` lowest doc_ids, the ``_BM25_TOP`` highest-BM25
    documents — the lexical complement of the embedding ANN family
    (`similarity_*`), scoring Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1−b +
    b·len/avglen)) over the probe's distinct terms.

    Shape: the classic search-engine plan — a (doc, term, tf) posting
    relation built map-side from one scan; document-frequency and
    average-length statistics as vocab-bounded / 1-row aggregates;
    the probe docs' term sets are a BOUNDED relation (probes × their
    distinct terms) broadcast into a term-keyed hash join against the
    postings, so candidate generation touches only postings sharing a
    probe term — never all pairs.  Per-candidate scores aggregate
    with one (probe, doc) hash agg; ranking is a per-probe top-k
    window.  idf uses the BM25+ floor ln(1 + (N−df+0.5)/(df+0.5)) so
    common terms can't go negative.

    Exactness (round-13 migration of the fractional-sum latent
    class): each term's idf·tfn contribution quantizes to a 1e-6-unit
    LONG, so the per-(probe, doc) score is an exact integer sum —
    the old float Σ contrib accumulated in partition order, and a
    ulp flip between two candidates' near-equal scores would REORDER
    the top-k, not just round differently.  Ranking and the 4-dp
    output both derive from the integer score in both engines.
    """
    docs = scan_parallel(spark, sf_dir, "documents", "doc_id")
    # Optimization r18 (guide §5): the posting relation fans out to
    # FOUR consumers (doclen, document frequency, probe terms, the
    # scoring join) — without materialization each one re-ran the
    # tokenize + (doc, tok) aggregate. The lazy localCheckpoint is
    # exactly the search engine's materialized inverted index; on a
    # real cluster it becomes persist(DISK_ONLY).
    postings = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    doclen = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    dfr = postings.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    probe_terms = (
        postings.where(F.col("doc_id") < _BM25_PROBES)
        .select(F.col("doc_id").alias("qid"), "tok")
        .distinct()
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    # One association for the contribution in BOTH engines AND the
    # free-model test: ((idf * tf) * (k1+1)) / den, the SQL parser's
    # left-to-right order.  Quantization floors amplify a 1-ulp
    # association difference into a full 1e-6 unit, so the expression
    # TREES must match, not just the algebra (round-13 self-review).
    contrib = (
        idf
        * F.col("tf")
        * (_BM25_K1 + 1.0)
        / (
            F.col("tf")
            + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        postings.join(F.broadcast(probe_terms), "tok")
        .where(F.col("doc_id") != F.col("qid"))
        .join(dfr, "tok")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("qid", "doc_id", quant6(contrib).alias("contrib6"))
        .groupBy("qid", "doc_id")
        .agg(F.sum("contrib6").alias("score6"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score6"), F.asc("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _BM25_TOP)
        .select(
            "qid",
            F.col("rk").cast("int").alias("rk"),
            "doc_id",
            pround(F.col("score6") / 1000000.0, 4).alias("bm25"),
        )
        .orderBy("qid", "rk")
    )


ORACLE_TEXT_BM25_SEARCH = f"""
WITH postings AS (
  SELECT doc_id, tok, count(*) AS tf FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY 1, 2
),
doclen AS (SELECT doc_id, sum(tf) AS dl FROM postings GROUP BY 1),
st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM doclen),
dfr AS (SELECT tok, count(*) AS df FROM postings GROUP BY 1),
probe AS (
  SELECT DISTINCT doc_id AS qid, tok FROM postings WHERE doc_id < {_BM25_PROBES}
),
scored AS (
  SELECT p.qid, po.doc_id,
         CAST(sum(CAST(floor(
             ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
             * po.tf * ({_BM25_K1} + 1.0)
             / (po.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * dl.dl / st.avgdl))
             * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS score6
  FROM postings po
  JOIN probe p ON po.tok = p.tok AND po.doc_id <> p.qid
  JOIN dfr ON po.tok = dfr.tok
  JOIN doclen dl ON po.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
ranked AS (
  SELECT qid, doc_id, score6,
         row_number() OVER (PARTITION BY qid ORDER BY score6 DESC, doc_id ASC) AS rk
  FROM scored
)
SELECT qid, CAST(rk AS INTEGER) AS rk, doc_id,
       floor(CAST(score6 AS DOUBLE) / 1000000.0 * 10000 + 0.5) / 10000.0 AS bm25
FROM ranked WHERE rk <= {_BM25_TOP}
ORDER BY qid, rk
"""

QUERIES["text_bm25_search"] = text_bm25_search
ORACLE["text_bm25_search"] = ORACLE_TEXT_BM25_SEARCH


# ---------------------------------------------------------------------------
# Rolling trend (bounded-frame OLS slope)
# ---------------------------------------------------------------------------

#: Trailing frame length for the rolling regression.
_TREND_K = 16
#: Deterministic user sample for the emitted series.
_TREND_USER_MOD = 25


def events_rolling_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event rolling trend: the OLS slope of value against
    within-user event index over the trailing ``_TREND_K``
    observations — the online "is this metric drifting up or down"
    detector (complementing `events_ewma_smooth`'s level estimate
    with a slope estimate).

    Exactness discipline: the regressor is the INTEGER event index
    (not the timestamp) and the response enters the frame sums as
    INTEGER CENTS (2-dp values scaled by 100), so all five frame sums
    (n, Σx, Σy_c, Σxy_c, Σx²) are exact integers regardless of how an
    engine evaluates the sliding frame (Spark re-scans each frame;
    DuckDB uses a segment tree — float sums could drift a ulp apart,
    integer sums cannot).  slope = (nΣxy_c − ΣxΣy_c)/(100·(nΣx² −
    (Σx)²)) is then ONE double division of identical integers.  State
    per row is a bounded ROWS frame; one user-keyed shuffle;
    single-observation frames emit NULL.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % _TREND_USER_MOD == 0)
        .select("user_id", "event_id", "ts", "value")
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = wo.rowsBetween(-(_TREND_K - 1), Window.currentRow)
    x = F.row_number().over(wo)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    staged_ = (
        ev.withColumn("x", x.cast("long"))
        .withColumn("yc", cents)
        .withColumn("n", F.count(F.lit(1)).over(frame))
        .withColumn("sx", F.sum("x").over(frame))
        .withColumn("syc", F.sum("yc").over(frame))
        .withColumn("sxyc", F.sum(F.col("x") * F.col("yc")).over(frame))
        .withColumn("sxx", F.sum(F.col("x") * F.col("x")).over(frame))
    )
    denom = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("long")
    slope = (
        (F.col("n") * F.col("sxyc") - F.col("sx") * F.col("syc")).cast("double")
    ) / (denom * F.lit(100)).cast("double")
    return staged_.select(
        "user_id",
        "event_id",
        "value",
        F.col("n").cast("int").alias("n_window"),
        F.when(denom > 0, pround(slope, 6)).alias("trend_slope"),
    ).orderBy("user_id", "event_id")


ORACLE_EVENTS_ROLLING_TREND = f"""
WITH base AS (
  SELECT user_id, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x
  FROM events WHERE user_id % {_TREND_USER_MOD} = 0
),
framed AS (
  SELECT user_id, event_id, value,
         count(*) OVER w AS n,
         sum(x) OVER w AS sx,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS syc,
         sum(x * CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS sxyc,
         sum(x * x) OVER w AS sxx
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY x
               ROWS BETWEEN {_TREND_K - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, value,
       CAST(n AS INTEGER) AS n_window,
       CASE WHEN (n * sxx - sx * sx) > 0
            THEN floor((CAST(n * sxyc - sx * syc AS DOUBLE)
                        / CAST((n * sxx - sx * sx) * 100 AS DOUBLE))
                       * 1000000 + 0.5) / 1000000.0
       END AS trend_slope
FROM framed
ORDER BY user_id, event_id
"""

QUERIES["events_rolling_trend"] = events_rolling_trend
ORACLE["events_rolling_trend"] = ORACLE_EVENTS_ROLLING_TREND


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest
# ---------------------------------------------------------------------------

#: Seasonal period (days) and the backtest horizon (last N days).
_FC_PERIOD = 7
_FC_HORIZON = 7


def events_forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each of the last
    ``_FC_HORIZON`` days' event counts with the count from
    ``_FC_PERIOD`` days earlier and report MAE / MAPE / bias — the
    baseline every real forecaster must beat, and the cheapest
    continuous sanity check on pipeline volume.

    All-integer error arithmetic until the final ratios: count
    differences are exact, MAE/bias divide exact integer sums, and
    MAPE's per-day |err|/y ratios quantize to 1e-6-unit LONGs before
    summing (round-13 — the old float Σ of fractional ratios
    accumulated in partition order), so both engines agree
    bit-for-bit.  Shape: one day-level aggregate,
    one day-key self-join of the tiny daily relation, a 1-row max-day
    broadcast to anchor the horizon.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    mx = daily.agg(F.max("day").alias("max_day"))
    actual = daily.select("day", F.col("c").alias("y"))
    pred = daily.select(
        (F.col("day") + F.make_dt_interval(days=F.lit(_FC_PERIOD))).alias("day"),
        F.col("c").alias("yhat"),
    )
    joined = (
        actual.join(pred, "day")
        .crossJoin(F.broadcast(mx))
        .where(
            F.col("day")
            > F.col("max_day") - F.make_dt_interval(days=F.lit(_FC_HORIZON))
        )
    )
    err = F.col("y") - F.col("yhat")
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("y").cast("long").alias("actual_total"),
        F.sum("yhat").cast("long").alias("predicted_total"),
        pround(F.sum(F.abs(err)).cast("double") / F.count(F.lit(1)), 4).alias("mae"),
        # MAPE's per-day |err|/y ratios are fractional — quantize each
        # to a 1e-6-unit long so the sum is order-free exact (round-13
        # migration of the fractional-sum latent class; MAE and bias
        # sum exact integers and need no quantization).
        pround(
            F.sum(quant6(F.abs(err).cast("double") / F.col("y")))
            / (F.count(F.lit(1)) * 1000000.0),
            6,
        ).alias("mape"),
        pround(F.sum(err).cast("double") / F.count(F.lit(1)), 4).alias("bias"),
    )


ORACLE_EVENTS_FORECAST_BASELINE = f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, count(*) AS c FROM events GROUP BY 1
),
mx AS (SELECT max(day) AS max_day FROM daily),
joined AS (
  SELECT a.day, a.c AS y, p.c AS yhat
  FROM daily a
  JOIN daily p ON a.day = p.day + INTERVAL {_FC_PERIOD} DAY
  CROSS JOIN mx
  WHERE a.day > mx.max_day - INTERVAL {_FC_HORIZON} DAY
)
SELECT CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(y) AS BIGINT) AS actual_total,
       CAST(sum(yhat) AS BIGINT) AS predicted_total,
       floor((CAST(sum(abs(y - yhat)) AS DOUBLE) / count(*)) * 10000 + 0.5)
         / 10000.0 AS mae,
       floor((CAST(sum(CAST(floor(CAST(abs(y - yhat) AS DOUBLE) / y
                                   * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
              / (count(*) * 1000000.0)) * 1000000 + 0.5)
         / 1000000.0 AS mape,
       floor((CAST(sum(y - yhat) AS DOUBLE) / count(*)) * 10000 + 0.5)
         / 10000.0 AS bias
FROM joined
"""

QUERIES["events_forecast_baseline"] = events_forecast_baseline
ORACLE["events_forecast_baseline"] = ORACLE_EVENTS_FORECAST_BASELINE


# ---------------------------------------------------------------------------
# Categorical-mix entropy
# ---------------------------------------------------------------------------

def agg_entropy_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the event-type mix per day (bits), with the
    day's dominant type and its share — the distribution-collapse
    alarm (entropy dropping toward 0 means one event type is taking
    over: a broken client, a bot, a dead code path).

    Exact-integer inputs: per-(day, type) counts and day totals are
    integers; each cell's c·log2(c) quantizes to a 1e-6-unit LONG
    (round-13 migration of the fractional-sum latent class — the old
    float Σ clogc accumulated in partition order and could flip the
    6-dp rounding at a boundary), so entropy = log2(T) − Σ clogc6 /
    (T·1e6) is one division over exact integers, identical in both
    engines (ulp-exact while c·log2(c)·1e6 < 2^53, i.e. c ≲ 3e8 per
    (day, type) cell — bound ingest per cell beyond that; the floor
    of a transcendental also assumes log2 agrees to the ulp at the
    boundary, a ±1-unit-in-1e-6 residual); the dominant type
    resolves ties by type name.  One fixed-width
    aggregate over (day, type); day-level windows run over the ≤5-row
    per-day cell relation.  The dominant type joins in from the
    rank-1 window rows instead of riding a string ``max(when(...))``
    through the aggregate — a string in the agg buffer demotes the
    whole final aggregation to a SortAggregate (the profile_table
    lesson), and the day-keyed equi join over the tiny cell relation
    is free.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    wd = Window.partitionBy("day")
    wr = Window.partitionBy("day").orderBy(F.desc("c"), F.asc("event_type"))
    staged_ = (
        cells.withColumn("t", F.sum("c").over(wd))
        .withColumn("clogc6", quant6(F.col("c") * F.log2("c")))
        .withColumn("rn", F.row_number().over(wr))
    )
    num = staged_.groupBy("day").agg(
        F.max("t").cast("long").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        pround(
            F.log2(F.max("t")) - F.sum("clogc6") / (F.max("t") * 1000000.0), 6
        ).alias("entropy_bits"),
    )
    dom = staged_.where(F.col("rn") == 1).select(
        "day",
        F.col("event_type").alias("dominant_type"),
        pround(F.col("c").cast("double") / F.col("t"), 6).alias("dominant_share"),
    )
    return num.join(dom, "day").orderBy("day")


ORACLE_AGG_ENTROPY_CATEGORICAL = """
WITH cells AS (
  SELECT date_trunc('day', ts) AS day, event_type, count(*) AS c
  FROM events GROUP BY 1, 2
),
staged_ AS (
  SELECT day, event_type, c,
         sum(c) OVER (PARTITION BY day) AS t,
         CAST(floor(c * log2(c) * 1000000 + 0.5) AS BIGINT) AS clogc6,
         row_number() OVER (PARTITION BY day ORDER BY c DESC, event_type ASC) AS rn
  FROM cells
)
SELECT day,
       CAST(max(t) AS BIGINT) AS n_events,
       count(*) AS n_types,
       floor((log2(max(t))
              - CAST(sum(clogc6) AS DOUBLE) / (max(t) * 1000000.0))
             * 1000000 + 0.5) / 1000000.0
         AS entropy_bits,
       max(CASE WHEN rn = 1 THEN event_type END) AS dominant_type,
       floor((CAST(max(CASE WHEN rn = 1 THEN c END) AS DOUBLE) / max(t))
             * 1000000 + 0.5) / 1000000.0 AS dominant_share
FROM staged_
GROUP BY day
ORDER BY day
"""

QUERIES["agg_entropy_categorical"] = agg_entropy_categorical
ORACLE["agg_entropy_categorical"] = ORACLE_AGG_ENTROPY_CATEGORICAL


# ---------------------------------------------------------------------------
# Reorder-interval histogram
# ---------------------------------------------------------------------------

#: Histogram bin width (days) and cap.
_RI_BIN_DAYS = 30
_RI_MAX_BIN = 12


def orders_reorder_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order arrival analysis: the distribution of gaps between
    a customer's consecutive orders, binned into
    ``_RI_BIN_DAYS``-day buckets (capped) with per-bin exact mean —
    the purchase-cadence profile behind replenishment and churn
    models (the orders-side twin of `events_gaps_islands`).

    Shape: one customer-keyed window (lag over each customer's
    orders — partitions are per-customer, never corpus-sized), then a
    fixed-width integer histogram with map-side combine.  Gap days
    are exact integers; the per-bin mean divides exact integer sums.
    Ties on the same date order by orderkey in both engines.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d"), "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    gaps = (
        orders.withColumn("prev_d", F.lag("d").over(w))
        .where(F.col("prev_d").isNotNull())
        .select(F.datediff(F.col("d"), F.col("prev_d")).alias("gap"))
    )
    bin_ = F.least(
        F.lit(_RI_MAX_BIN), F.floor(F.col("gap") / _RI_BIN_DAYS)
    ).cast("int")
    return (
        gaps.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            pround(F.sum("gap").cast("double") / F.count(F.lit(1)), 4).alias(
                "mean_gap_days"
            ),
        )
        .select(
            "bin",
            (F.col("bin") * _RI_BIN_DAYS).cast("long").alias("bin_start_day"),
            "n_gaps",
            "mean_gap_days",
        )
        .orderBy("bin")
    )


ORACLE_ORDERS_REORDER_INTERVAL = f"""
WITH gaps AS (
  SELECT date_diff('day', prev_d, d) AS gap FROM (
    SELECT CAST(o_orderdate AS DATE) AS d,
           lag(CAST(o_orderdate AS DATE)) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_d
    FROM orders
  ) WHERE prev_d IS NOT NULL
)
SELECT CAST(least({_RI_MAX_BIN}, gap // {_RI_BIN_DAYS}) AS INTEGER) AS bin,
       CAST(least({_RI_MAX_BIN}, gap // {_RI_BIN_DAYS}) * {_RI_BIN_DAYS} AS BIGINT)
         AS bin_start_day,
       count(*) AS n_gaps,
       floor((CAST(sum(gap) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000.0
         AS mean_gap_days
FROM gaps
GROUP BY 1, 2
ORDER BY bin
"""

QUERIES["orders_reorder_interval"] = orders_reorder_interval
ORACLE["orders_reorder_interval"] = ORACLE_ORDERS_REORDER_INTERVAL


# ---------------------------------------------------------------------------
# Transition conditional entropy
# ---------------------------------------------------------------------------

def events_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(next event type | current) per current
    type, in bits — how PREDICTABLE each state's successor is
    (`events_markov_transitions` gives the matrix; this collapses
    each row to its information content: 0 bits = deterministic
    next step, log2(5) ≈ 2.32 = uniform chaos).

    Exact-integer inputs: per-(cur, next) transition counts from one
    user-keyed lag window, row totals as windows over the ≤types²
    cell relation; each cell's c·log2(c) quantizes to a 1e-6-unit
    LONG (round-13 migration of the fractional-sum latent class —
    the old float Σ clogc accumulated in partition order), so
    H = log2(T_row) − Σ clogc6/(T_row·1e6) is one division over
    exact integers, identical in both engines (same c ≲ 3e8 per-cell
    exactness bound and ±1-unit libm residual as
    agg_entropy_categorical).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("nxt", F.lead("event_type").over(w))
        .where(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("cur"), "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wr = Window.partitionBy("cur")
    staged_ = trans.withColumn("t", F.sum("c").over(wr)).withColumn(
        "clogc6", quant6(F.col("c") * F.log2("c"))
    )
    return (
        staged_.groupBy("cur")
        .agg(
            F.max("t").cast("long").alias("n_transitions"),
            F.count(F.lit(1)).alias("n_successors"),
            pround(
                F.log2(F.max("t")) - F.sum("clogc6") / (F.max("t") * 1000000.0),
                6,
            ).alias("cond_entropy_bits"),
        )
        .orderBy("cur")
    )


ORACLE_EVENTS_TRANSITION_ENTROPY = """
WITH trans AS (
  SELECT cur, nxt, count(*) AS c FROM (
    SELECT event_type AS cur,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
    FROM events
  ) WHERE nxt IS NOT NULL
  GROUP BY 1, 2
),
staged_ AS (
  SELECT cur, c, sum(c) OVER (PARTITION BY cur) AS t,
         CAST(floor(c * log2(c) * 1000000 + 0.5) AS BIGINT) AS clogc6
  FROM trans
)
SELECT cur,
       CAST(max(t) AS BIGINT) AS n_transitions,
       count(*) AS n_successors,
       floor((log2(max(t))
              - CAST(sum(clogc6) AS DOUBLE) / (max(t) * 1000000.0))
             * 1000000 + 0.5) / 1000000.0
         AS cond_entropy_bits
FROM staged_
GROUP BY cur
ORDER BY cur
"""

QUERIES["events_transition_entropy"] = events_transition_entropy
ORACLE["events_transition_entropy"] = ORACLE_EVENTS_TRANSITION_ENTROPY


# ---------------------------------------------------------------------------
# Funnel time-to-convert percentiles
# ---------------------------------------------------------------------------

def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: for users whose first
    purchase follows their first view, the p25/p50/p90 and mean of
    (first purchase − first view) in seconds — the funnel-velocity
    readout on top of `events_funnel`'s conversion counts.

    One user-keyed conditional-min aggregate (the funnel shape), then
    exact interpolated percentiles over the converting users'
    integer-second latencies (Spark ``percentile`` ==
    DuckDB ``quantile_cont``, the `agg_percentiles` parity
    convention; interpolation midpoints of integers are exact
    halves).
    """
    ev = load_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"), first_ts("purchase").alias("t_purchase")
    )
    lat = per_user.where(
        F.col("t_view").isNotNull() & (F.col("t_purchase") > F.col("t_view"))
    ).select(
        (
            F.unix_micros(F.col("t_purchase").cast("timestamp"))
            - F.unix_micros(F.col("t_view").cast("timestamp"))
        ).alias("us")
    )
    # Mean over the exact integer-µs sum, divided once (round-13
    # migration of the fractional-sum latent class — the old
    # Σ(us/1e6) accumulated fractional doubles in partition order;
    # Σus is an exact long up to ~9e18 total µs of latency).  The
    # percentiles already reduce order-free (sort-based, per-value
    # us/1e6 doubles are deterministic).
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_converting_users"),
        pround(F.expr("percentile(us / 1000000.0, 0.25)"), 4).alias("p25_sec"),
        pround(F.expr("percentile(us / 1000000.0, 0.5)"), 4).alias("p50_sec"),
        pround(F.expr("percentile(us / 1000000.0, 0.9)"), 4).alias("p90_sec"),
        pround(
            F.sum("us") / (F.count(F.lit(1)) * 1000000.0), 4
        ).alias("mean_sec"),
    )


ORACLE_EVENTS_TIME_TO_CONVERT = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY 1
),
lat AS (
  SELECT epoch_us(t_purchase) - epoch_us(t_view) AS us
  FROM per_user
  WHERE t_view IS NOT NULL AND t_purchase > t_view
)
SELECT CAST(count(*) AS BIGINT) AS n_converting_users,
       floor(quantile_cont(us / 1000000.0, 0.25) * 10000 + 0.5) / 10000.0 AS p25_sec,
       floor(quantile_cont(us / 1000000.0, 0.5) * 10000 + 0.5) / 10000.0 AS p50_sec,
       floor(quantile_cont(us / 1000000.0, 0.9) * 10000 + 0.5) / 10000.0 AS p90_sec,
       floor((CAST(sum(us) AS DOUBLE) / (count(*) * 1000000.0)) * 10000 + 0.5)
         / 10000.0 AS mean_sec
FROM lat
"""

QUERIES["events_time_to_convert"] = events_time_to_convert
ORACLE["events_time_to_convert"] = ORACLE_EVENTS_TIME_TO_CONVERT


# ---------------------------------------------------------------------------
# CUSUM change-point detection
# ---------------------------------------------------------------------------

def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on each event type's daily volume:
    the day t maximizing |S_t|, S_t = sum_{i<=t}(x_i - mean), is the
    most likely level-shift point — the drift alarm a data pipeline
    runs on its own ingest counters (complements
    `events_anomaly_zscore`, which flags single outlier days; CUSUM
    finds sustained shifts a z-score never trips on).

    Shape: one (type, day) count aggregation (map-side combine), then
    all windows partition by event_type over the DAY-grain series —
    partitions are #days rows regardless of corpus size, so a 100 TB
    event log reduces to the same tiny per-type series after the
    first shuffle.  Arithmetic is cross-engine exact: cumulative and
    total counts are integers, the mean is one integer/integer double
    division, and S_t = cum - t*mean composes identically in both
    engines; ties on |S_t| break to the earliest day.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    cur = (
        daily.withColumn("cum", F.sum("x").over(w))
        .withColumn("t", F.row_number().over(w))
        .withColumn("total", F.sum("x").over(wall))
        .withColumn("n_days", F.count(F.lit(1)).over(wall))
        .withColumn(
            "s", F.col("cum") - F.col("t") * (F.col("total") / F.col("n_days"))
        )
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("s"))), F.asc("day")
    )
    return (
        cur.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("cp_day"),
            "n_days",
            pround(F.abs(F.col("s")), 4).alias("cusum_stat"),
            pround(F.col("cum") / F.col("t"), 4).alias("mean_pre"),
            pround(
                (F.col("total") - F.col("cum"))
                / F.nullif(F.col("n_days") - F.col("t"), F.lit(0)),
                4,
            ).alias("mean_post"),
        )
        .orderBy("event_type")
    )


ORACLE_EVENTS_CUSUM_CHANGEPOINT = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS x
  FROM events GROUP BY 1, 2
),
cur AS (
  SELECT event_type, day, x,
         sum(x) OVER (PARTITION BY event_type ORDER BY day) AS cum,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
         sum(x) OVER (PARTITION BY event_type) AS total,
         count(*) OVER (PARTITION BY event_type) AS n_days
  FROM daily
),
scored AS (
  SELECT *, cum - t * (CAST(total AS DOUBLE) / n_days) AS s,
         row_number() OVER (
           PARTITION BY event_type ORDER BY abs(cum - t * (CAST(total AS DOUBLE) / n_days)) DESC, day
         ) AS rn
  FROM cur
)
SELECT event_type, day AS cp_day, CAST(n_days AS BIGINT) AS n_days,
       floor(abs(s) * 10000 + 0.5) / 10000.0 AS cusum_stat,
       floor((CAST(cum AS DOUBLE) / t) * 10000 + 0.5) / 10000.0 AS mean_pre,
       floor((CAST(total - cum AS DOUBLE) / nullif(n_days - t, 0)) * 10000 + 0.5) / 10000.0
         AS mean_post
FROM scored WHERE rn = 1
ORDER BY event_type
"""

QUERIES["events_cusum_changepoint"] = events_cusum_changepoint
ORACLE["events_cusum_changepoint"] = ORACLE_EVENTS_CUSUM_CHANGEPOINT


# ---------------------------------------------------------------------------
# Declarative data-contract validation
# ---------------------------------------------------------------------------

def pipeline_data_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract audit: one row per contract rule
    (range / enum / cross-column / non-null checks over four tables)
    with violation counts, rates, and a pass verdict — the
    expectation-suite gate (Great-Expectations-style) a production
    pipeline runs before publishing a dataset version (complements
    `pipeline_fk_integrity_audit`, which covers referential rules,
    and `profile_table`, which describes rather than asserts).

    Shape: each table contributes ONE full scan that folds ALL of its
    rules into conditional count aggregates (map-side partial
    aggregation, no joins, no shuffle beyond the 1-row final agg);
    the per-rule rows are then unpivoted from the single aggregate
    row, so cost is one scan per table regardless of rule count.
    Every predicate is integer/enum/comparison arithmetic that both
    engines evaluate identically; rates divide exact integer counts.
    """
    def rules_for(df: DataFrame, table: str, rules: list[tuple[str, str, F.Column]]):
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for rid, _desc, bad in rules:
            aggs.append(F.sum(F.when(bad, 1).otherwise(0)).alias(rid))
        one = df.agg(*aggs)
        # Unpivot the SINGLE aggregate row by exploding a literal
        # rule array — the aggregate subtree appears exactly once in
        # the plan (per-rule re-selects would repeat it per rule and
        # rely on exchange reuse to avoid a rescan).
        unpivoted = one.select(
            F.col("n_rows"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(rid).alias("rule_id"),
                            F.lit(desc).alias("rule"),
                            F.col(rid).alias("v"),
                        )
                        for rid, desc, _bad in rules
                    ]
                )
            ).alias("r"),
        )
        return unpivoted.select(
            F.col("r.rule_id").alias("rule_id"),
            F.lit(table).alias("table_name"),
            F.col("r.rule").alias("rule"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("r.v").cast("long").alias("n_violations"),
            pround(F.col("r.v") / F.col("n_rows"), 6).alias("violation_rate"),
            (F.col("r.v") == 0).alias("passed"),
        )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    docs = load_table(spark, sf_dir, "documents")
    parts = [
        rules_for(
            orders,
            "orders",
            [
                ("R1", "o_totalprice > 0", F.col("o_totalprice") <= 0),
                (
                    "R2",
                    "o_orderstatus in (O,F,P)",
                    ~F.col("o_orderstatus").isin("O", "F", "P"),
                ),
            ],
        ),
        rules_for(
            li,
            "lineitem",
            [
                (
                    "R3",
                    "l_quantity in [1,50]",
                    (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
                ),
                ("R4", "l_discount <= 0.05", F.col("l_discount") > 0.05),
            ],
        ),
        rules_for(
            cust,
            "customer",
            [("R5", "c_acctbal >= 0", F.col("c_acctbal") < 0)],
        ),
        rules_for(
            docs,
            "documents",
            [
                (
                    "R6",
                    "n_chars == length(text)",
                    F.col("n_chars") != F.length("text"),
                ),
                ("R7", "text non-null", F.col("text").isNull()),
            ],
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("rule_id")


ORACLE_PIPELINE_DATA_CONTRACT = """
WITH o AS (
  SELECT count(*) AS n,
         sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS r1,
         sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS r2
  FROM orders
),
l AS (
  SELECT count(*) AS n,
         sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS r3,
         sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS r4
  FROM lineitem
),
c AS (
  SELECT count(*) AS n,
         sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS r5
  FROM customer
),
d AS (
  SELECT count(*) AS n,
         sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS r6,
         sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS r7
  FROM documents
),
rows_ AS (
  SELECT 'R1' AS rule_id, 'orders' AS table_name, 'o_totalprice > 0' AS rule,
         n, r1 AS v FROM o
  UNION ALL SELECT 'R2', 'orders', 'o_orderstatus in (O,F,P)', n, r2 FROM o
  UNION ALL SELECT 'R3', 'lineitem', 'l_quantity in [1,50]', n, r3 FROM l
  UNION ALL SELECT 'R4', 'lineitem', 'l_discount <= 0.05', n, r4 FROM l
  UNION ALL SELECT 'R5', 'customer', 'c_acctbal >= 0', n, r5 FROM c
  UNION ALL SELECT 'R6', 'documents', 'n_chars == length(text)', n, r6 FROM d
  UNION ALL SELECT 'R7', 'documents', 'text non-null', n, r7 FROM d
)
SELECT rule_id, table_name, rule,
       CAST(n AS BIGINT) AS n_rows,
       CAST(v AS BIGINT) AS n_violations,
       floor((CAST(v AS DOUBLE) / n) * 1000000 + 0.5) / 1000000.0 AS violation_rate,
       v = 0 AS passed
FROM rows_
ORDER BY rule_id
"""

QUERIES["pipeline_data_contract"] = pipeline_data_contract
ORACLE["pipeline_data_contract"] = ORACLE_PIPELINE_DATA_CONTRACT


# ---------------------------------------------------------------------------
# MAD-based robust anomaly summary
# ---------------------------------------------------------------------------

#: Modified z-score threshold (Iglewicz-Hoaglin convention).
_MAD_K = 0.6745
_MAD_THRESHOLD = 2.5


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly profile per event type: median / MAD of the
    daily volume series and the count of days whose modified z-score
    ``0.6745*(x - median)/MAD`` exceeds ``2.5`` — the
    outlier detector that survives the very outliers it hunts
    (`events_anomaly_zscore`'s mean/stddev shift under a single
    extreme day; median/MAD have a 50% breakdown point).

    Shape: one (type, day) count aggregation collapses the corpus to
    #types x #days rows; medians run over those tiny per-type
    series via the exact interpolated-percentile parity convention
    (`agg_percentiles`).  Two passes over the day-grain relation
    (median, then MAD of residuals) — both trivial after the first
    map-side-combined shuffle.  Counts are exact integers; the
    medians of integers and of |int - median| interpolate
    identically in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(x, 0.5)").alias("med"),
        F.count(F.lit(1)).alias("n_days"),
    )
    resid = daily.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("x") - F.col("med"))
    )
    mad = resid.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    scored = resid.join(F.broadcast(mad), "event_type").withColumn(
        "z",
        F.when(
            F.col("mad") > 0,
            F.lit(_MAD_K) * (F.col("x") - F.col("med")) / F.col("mad"),
        ),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.max("n_days").alias("n_days"),
            pround(F.max("med"), 4).alias("median_daily"),
            pround(F.max("mad"), 4).alias("mad_daily"),
            F.sum(
                F.when(F.abs(F.col("z")) > _MAD_THRESHOLD, 1).otherwise(0)
            ).cast("long").alias("n_anomalous_days"),
            pround(F.max(F.abs(F.col("z"))), 4).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


ORACLE_EVENTS_ANOMALY_MAD = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS x
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, quantile_cont(x, 0.5) AS med, count(*) AS n_days
  FROM daily GROUP BY 1
),
resid AS (
  SELECT d.event_type, d.x, m.med, m.n_days, abs(d.x - m.med) AS adev
  FROM daily d JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM resid GROUP BY 1
),
scored AS (
  SELECT r.*, CASE WHEN m.mad > 0
                   THEN {_MAD_K} * (r.x - r.med) / m.mad END AS z
  FROM resid r JOIN mad m USING (event_type)
)
SELECT event_type,
       CAST(max(n_days) AS BIGINT) AS n_days,
       floor(max(med) * 10000 + 0.5) / 10000.0 AS median_daily,
       floor(max(mad_v) * 10000 + 0.5) / 10000.0 AS mad_daily,
       CAST(sum(CASE WHEN abs(z) > {_MAD_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalous_days,
       floor(max(abs(z)) * 10000 + 0.5) / 10000.0 AS max_abs_z
FROM (SELECT s.*, m.mad AS mad_v FROM scored s JOIN mad m USING (event_type))
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["events_anomaly_mad"] = events_anomaly_mad
ORACLE["events_anomaly_mad"] = ORACLE_EVENTS_ANOMALY_MAD


# ---------------------------------------------------------------------------
# Incremental aggregate refresh (materialized-view maintenance)
# ---------------------------------------------------------------------------

#: Batch boundary splitting the "already materialized" base from the
#: "newly arrived" delta.
_IAR_CUTOFF = "1998-01-01"


def pipeline_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance for an additive
    aggregate: the (month, status) revenue rollup is refreshed by
    merging the PRE-COMPUTED base partial (orders before
    ``_IAR_CUTOFF``) with the delta batch's partial — touching only
    O(|delta|) new rows plus view-sized state, never rescanning the
    base — and each refreshed row carries a ``matches_full`` bit
    proving the merge equals a from-scratch recompute (the
    insert-only IVM contract; `dedup_incremental_ingest` is the
    dedup-side twin of this discipline).

    Shape: count and SUM partials are mergeable by a plain group-sum,
    so refresh = union of partials + one view-keyed aggregation.  At
    100 TB the base partial is a stored table of #months x #statuses
    rows and only the delta is scanned; here both partials derive
    from one scan to keep the query self-contained.  Revenue sums in
    integer CENTS (pround x100 basis), so partial merge order cannot
    perturb low bits in either engine.

    Optimization r19 (guide §2.3/§2.4): ONE (month, status, is_base)
    map-side-combining aggregate replaces the old three filtered
    scans (base partial, delta partial, full recompute) — the fact
    table is scanned once and only view-sized partial rows ever cross
    an exchange (an explicit repartition variant was also measured
    and REJECTED: it shuffled raw fact rows and ran +25 % solo).
    ``refreshed`` (merge of the is_base partials) and ``full`` (the
    from-scratch recompute) are the same rollup arithmetic as before
    — values unchanged, the merge-vs-recompute comparison intact —
    and both rollups read the SAME partial relation, so the scan +
    first exchange are shared (AQE exchange reuse).
    """
    cutoff = F.lit(_IAR_CUTOFF).cast("timestamp_ntz")
    orders = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        (F.col("o_orderdate") < cutoff).alias("is_base"),
    )
    # base and delta partials from ONE pass: the is_base split is a
    # grouping column, not a scan predicate.
    partials = orders.groupBy("month", "status", "is_base").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("cents").alias("sum_cents")
    )

    def rollup(df):
        return df.groupBy("month", "status").agg(
            F.sum("cnt").alias("cnt"), F.sum("sum_cents").alias("sum_cents")
        )

    # Merge of the two partials (insert-only IVM refresh).  The
    # is_base IS NOT NULL guard reproduces the old filtered-partial
    # semantics exactly: a NULL o_orderdate row belonged to NEITHER
    # ``where(is_base)`` nor ``where(~is_base)`` but DID count in the
    # from-scratch recompute (so such a cell reports
    # matches_full = false, same as before).
    refreshed = rollup(partials.where(F.col("is_base").isNotNull()))
    # ...checked against the from-scratch recompute over all rows.
    full = rollup(partials).select(
        "month",
        "status",
        F.col("cnt").alias("cnt_f"),
        F.col("sum_cents").alias("sum_f"),
    )
    return (
        refreshed.join(full, ["month", "status"], "full_outer")
        .select(
            "month",
            "status",
            F.col("cnt").cast("long").alias("n_orders"),
            pround(F.col("sum_cents") / 100.0, 2).alias("revenue"),
            (
                (F.col("cnt") == F.col("cnt_f"))
                & (F.col("sum_cents") == F.col("sum_f"))
            ).alias("matches_full"),
        )
        .orderBy("month", "status")
    )


ORACLE_PIPELINE_INCREMENTAL_AGG_REFRESH = f"""
WITH src AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderstatus AS status,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         o_orderdate < TIMESTAMP '{_IAR_CUTOFF}' AS is_base
  FROM orders
),
base AS (
  SELECT month, status, count(*) AS cnt, sum(cents) AS sum_cents
  FROM src WHERE is_base GROUP BY 1, 2
),
delta AS (
  SELECT month, status, count(*) AS cnt, sum(cents) AS sum_cents
  FROM src WHERE NOT is_base GROUP BY 1, 2
),
refreshed AS (
  SELECT month, status, sum(cnt) AS cnt, sum(sum_cents) AS sum_cents
  FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
  GROUP BY 1, 2
),
full_ AS (
  SELECT month, status, count(*) AS cnt_f, sum(cents) AS sum_f
  FROM src GROUP BY 1, 2
)
SELECT month, status,
       CAST(cnt AS BIGINT) AS n_orders,
       floor((CAST(sum_cents AS DOUBLE) / 100.0) * 100 + 0.5) / 100.0 AS revenue,
       cnt = cnt_f AND sum_cents = sum_f AS matches_full
FROM refreshed FULL OUTER JOIN full_ USING (month, status)
ORDER BY month, status
"""

QUERIES["pipeline_incremental_agg_refresh"] = pipeline_incremental_agg_refresh
ORACLE["pipeline_incremental_agg_refresh"] = ORACLE_PIPELINE_INCREMENTAL_AGG_REFRESH


# ---------------------------------------------------------------------------
# Bounded-round min-label propagation (community structure)
# ---------------------------------------------------------------------------

#: Synchronous propagation rounds (fixed, so both engines unroll the
#: same computation).
_LP_ROUNDS = 3


#: Round count at which carrier="auto" switches the edge relation
#: from the checkpointed carrier to a bucketed table (the PageRank
#: _PR_BUCKETED_ITERS trade-off, applied to the dst-keyed join).
_LP_BUCKETED_ROUNDS = 4
#: Bucket count for the bucketed-edge carrier.
_LP_BUCKETS = 32


def graph_label_propagation(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = _LP_ROUNDS,
    carrier: str = "auto",
) -> DataFrame:
    """Community structure of the customer-supplier trade graph via
    ``_LP_ROUNDS`` synchronous rounds of min-label propagation,
    reported as the per-round convergence trajectory (round,
    communities remaining, largest community, singleton count) — the
    bounded-round Pregel pass that profiles graph fragmentation and
    its collapse rate without iterating to a fixpoint
    (`dedup_connected_components` runs the same kernel to a fixpoint
    on the dup graph; bounding rounds gives a deterministic
    radius-K clustering whose cost is fixed at planning time).

    Shape: ONE distinct-pair shuffle builds the bidirected edge list
    (+ self-loops, so a node's own label competes in the same min
    and no per-round left join is needed — the pagerank dangling
    trick), carried across rounds either lazily checkpointed
    (default at the registered 3 rounds) or as a one-time bucketed
    table on dst (``carrier="bucketed"``, auto at ≥
    ``_LP_BUCKETED_ROUNDS`` rounds — each round's edge⋈label join
    then reads the bucketed scan exchange-free on the edge side;
    value-identical across carriers, pinned in
    tests/test_bucketing.py); each
    round is one label⋈edge hash join on dst and one min-agg by
    src, both map-side-combinable, with node-sized state only.  Min
    over bigint labels is associative and engine-exact; the final
    histogram is two tiny aggregations.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # The distinct-pair relation feeds both edge directions, the node
    # set, and (transitively) every propagation round — checkpoint it
    # lazily so the lineitem⋈orders join and its distinct shuffle run
    # once instead of once per consumer.
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    edges = pairs.select(F.col("cnode").alias("src"), F.col("snode").alias("dst")).union(
        pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"))
    )
    nodes = edges.select("src").distinct()
    edges_plus = edges.union(
        nodes.select(F.col("src"), F.col("src").alias("dst"))
    ).repartition("dst")
    # Carrier selection (the graph_pagerank_bipartite trade-off, on
    # the dst-keyed propagation join): the checkpointed carrier
    # re-exchanges the edge rows each round under AQE; at
    # >= _LP_BUCKETED_ROUNDS rounds a one-time bucketed+sorted table
    # on dst makes every round's edge⋈label join exchange-free and
    # sort-free on the heavy side.
    if carrier == "auto":
        carrier = "bucketed" if rounds >= _LP_BUCKETED_ROUNDS else "checkpoint"
    if carrier == "bucketed":
        import hashlib

        from parquet_stream_writer_spark.operators._carrier import bucketed_carrier

        # Session-salted, lifecycle-managed carrier (ADVICE r7) — see
        # operators/_carrier.py for the naming/drop/FS-cleanup contract.
        tag = hashlib.md5(f"{sf_dir}|{rounds}".encode()).hexdigest()[:10]
        edges_plus = bucketed_carrier(
            spark,
            edges_plus,
            f"lp_edges_{tag}",
            buckets=_LP_BUCKETS,
            bucket_col="dst",
        )
    else:
        edges_plus = edges_plus.localCheckpoint(eager=False)
    labels = nodes.select("src", F.col("src").alias("label")).withColumnRenamed(
        "src", "node"
    )
    snapshots = []
    for rnd in range(1, rounds + 1):
        labels = (
            edges_plus.join(labels, edges_plus["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("label"))
            .withColumnRenamed("src", "node")
        )
        if carrier != "bucketed":
            # Optimization r19 (guide §5, VERDICT item 4): each round's
            # label relation feeds BOTH the next round's join and its
            # own community-size snapshot; without the (node-sized)
            # lazy checkpoint the snapshot branches re-run every prior
            # round's join lineage (21 Exchanges / 6 SMJ static).
            # Single-session interleaved A/B, median-of-7: 3.207 s
            # with vs 3.422 s without.  The BUCKETED carrier skips it:
            # its per-round joins are already exchange-free against the
            # bucketed table (re-running them is cheap by design) and
            # the checkpoint's LogicalRDD would hide the bucketed scans
            # its plan contract pins.
            labels = labels.localCheckpoint(eager=False)
        sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
        snapshots.append(
            sizes.agg(
                F.lit(rnd).alias("round"),
                F.count(F.lit(1)).cast("long").alias("n_communities"),
                F.max("sz").cast("long").alias("largest_community"),
                F.sum(F.when(F.col("sz") == 1, 1).otherwise(0))
                .cast("long")
                .alias("n_singletons"),
            )
        )
    out = snapshots[0]
    for s in snapshots[1:]:
        out = out.unionAll(s)
    return out.orderBy("round")


def _lp_oracle() -> str:
    rounds, stats = [], []
    prev = "l0"
    for i in range(1, _LP_ROUNDS + 1):
        rounds.append(
            f"l{i} AS (SELECT e.src AS node, min(p.label) AS label "
            f"FROM edges_plus e JOIN {prev} p ON e.dst = p.node GROUP BY e.src)"
        )
        rounds.append(
            f"s{i} AS (SELECT label, count(*) AS sz FROM l{i} GROUP BY 1)"
        )
        stats.append(
            f"SELECT {i} AS round, CAST(count(*) AS BIGINT) AS n_communities, "
            f"CAST(max(sz) AS BIGINT) AS largest_community, "
            f"CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) "
            f"AS n_singletons FROM s{i}"
        )
        prev = f"l{i}"
    return f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT cnode AS src, snode AS dst FROM pairs
  UNION SELECT snode, cnode FROM pairs
),
edges_plus AS (
  SELECT src, dst FROM edges
  UNION ALL SELECT DISTINCT src, src FROM edges
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
{','.join(rounds)}
{' UNION ALL '.join(stats)}
ORDER BY round
"""


QUERIES["graph_label_propagation"] = graph_label_propagation
ORACLE["graph_label_propagation"] = _lp_oracle()


# ---------------------------------------------------------------------------
# Readability scoring
# ---------------------------------------------------------------------------

def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus readability profile per language: Flesch reading ease
    and Flesch-Kincaid grade from word / sentence / syllable-proxy
    counts — the classic curation signal separating encyclopedic from
    conversational text that `text_quality_score`'s surface ratios
    don't capture.

    Shape: three ``regexp_extract_all`` counts per document (words =
    maximal non-space runs, sentences = terminal punctuation,
    syllable proxy = vowel groups) — pure map-side expression work —
    then ONE per-language aggregation of exact integer totals; the
    Flesch arithmetic runs on those totals (corpus-level formula, not
    mean-of-per-doc), so both engines divide the same integers.  The
    character classes are shared by Java regex and RE2, and the
    vowel-group proxy degrades gracefully on non-Latin scripts (the
    formula is Latin-calibrated; scores for e.g. zh are comparable
    within the corpus, not against English norms).  Sentence counts
    are floored at 1 per doc so empty/unpunctuated docs cannot
    divide by zero.
    """
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        "lang",
        F.size(F.regexp_extract_all("text", F.lit(r"[^ \t\n\r]+"), 0)).alias("w"),
        F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all("text", F.lit(r"[.!?]"), 0)),
        ).alias("s"),
        F.size(
            F.regexp_extract_all("text", F.lit(r"[aeiouyAEIOUY]+"), 0)
        ).alias("y"),
    )
    agg = counted.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("tw"),
        F.sum("s").alias("ts"),
        F.sum("y").alias("ty"),
    )
    # tw = 0 (a language whose docs are all wordless) must pin to NULL
    # in both engines — Spark's double division yields NULL while
    # DuckDB's follows IEEE, so an unguarded ratio diverges exactly
    # there (the text_zipf_fit lesson).  ts is already floored at 1.
    wps = F.col("tw").cast("double") / F.col("ts")
    spw = F.when(
        F.col("tw") > 0, F.col("ty").cast("double") / F.col("tw")
    )
    return agg.select(
        "lang",
        "n_docs",
        pround(wps, 4).alias("words_per_sentence"),
        pround(spw, 4).alias("syllables_per_word"),
        pround(
            F.when(
                F.col("tw") > 0,
                F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw,
            ),
            4,
        ).alias("flesch_ease"),
        pround(
            F.when(
                F.col("tw") > 0,
                F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59),
            ),
            4,
        ).alias("fk_grade"),
    ).orderBy("lang")


ORACLE_TEXT_READABILITY = r"""
WITH counted AS (
  SELECT lang,
         len(regexp_extract_all(text, '[^ \t\n\r]+')) AS w,
         greatest(1, len(regexp_extract_all(text, '[.!?]'))) AS s,
         len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS y
  FROM documents
),
agg AS (
  SELECT lang, count(*) AS n_docs, sum(w) AS tw, sum(s) AS ts, sum(y) AS ty
  FROM counted GROUP BY lang
)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       floor((CAST(tw AS DOUBLE) / ts) * 10000 + 0.5) / 10000.0 AS words_per_sentence,
       CASE WHEN tw > 0 THEN
         floor((CAST(ty AS DOUBLE) / tw) * 10000 + 0.5) / 10000.0 END
         AS syllables_per_word,
       CASE WHEN tw > 0 THEN
         floor((206.835 - 1.015 * (CAST(tw AS DOUBLE) / ts)
                - 84.6 * (CAST(ty AS DOUBLE) / tw)) * 10000 + 0.5) / 10000.0 END
         AS flesch_ease,
       CASE WHEN tw > 0 THEN
         floor((0.39 * (CAST(tw AS DOUBLE) / ts)
                + 11.8 * (CAST(ty AS DOUBLE) / tw) - 15.59) * 10000 + 0.5) / 10000.0 END
         AS fk_grade
FROM agg ORDER BY lang
"""

QUERIES["text_readability"] = text_readability
ORACLE["text_readability"] = ORACLE_TEXT_READABILITY


# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------

#: Anonymity threshold: a quasi-identifier group smaller than this
#: re-identifies its members.
_KANON_K = 5
#: Account-balance coarsening step for the fine QI set.
_KANON_BAL_STEP = 100


def pipeline_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under two
    quasi-identifier sets — coarse (nation, market segment) and fine
    (+ balance bucketed to ``_KANON_BAL_STEP``) — reporting, per QI
    set, how many rows sit in groups smaller than ``_KANON_K``: the
    release gate a privacy review runs before publishing "anonymized"
    records, and the quantitative form of the warning that every
    extra attribute multiplies re-identifiability
    (`text_pii_scrub` removes direct identifiers; this measures the
    indirect ones).

    Shape: per QI set one hash aggregation to group sizes (map-side
    combine) and one 1-row rollup over the group-size relation —
    two scans total, no joins, no windows.  All outputs are exact
    integer counts and one integer-ratio rate.
    """
    cust = load_table(spark, sf_dir, "customer")
    qi_sets = [
        ("nation+segment", [F.col("c_nationkey"), F.col("c_mktsegment")]),
        (
            "nation+segment+balance_bucket",
            [
                F.col("c_nationkey"),
                F.col("c_mktsegment"),
                F.floor(F.col("c_acctbal") / _KANON_BAL_STEP).cast("long"),
            ],
        ),
    ]
    parts = []
    for name, cols in qi_sets:
        sizes = cust.groupBy(
            *[c.alias(f"q{i}") for i, c in enumerate(cols)]
        ).agg(F.count(F.lit(1)).alias("gsz"))
        parts.append(
            sizes.agg(
                F.lit(name).alias("qi_set"),
                F.lit(_KANON_K).cast("int").alias("k"),
                F.sum("gsz").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.min("gsz").cast("long").alias("min_group_size"),
                F.sum(F.when(F.col("gsz") < _KANON_K, F.col("gsz")).otherwise(0))
                .cast("long")
                .alias("n_unsafe_rows"),
                pround(
                    F.sum(
                        F.when(F.col("gsz") < _KANON_K, F.col("gsz")).otherwise(0)
                    )
                    / F.sum("gsz"),
                    6,
                ).alias("unsafe_row_rate"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("qi_set")


ORACLE_PIPELINE_K_ANONYMITY = f"""
WITH coarse AS (
  SELECT count(*) AS gsz FROM customer GROUP BY c_nationkey, c_mktsegment
),
fine AS (
  SELECT count(*) AS gsz FROM customer
  GROUP BY c_nationkey, c_mktsegment, CAST(floor(c_acctbal / {_KANON_BAL_STEP}) AS BIGINT)
),
rolled AS (
  SELECT 'nation+segment' AS qi_set, sum(gsz) AS n_rows, count(*) AS n_groups,
         min(gsz) AS min_group_size,
         sum(CASE WHEN gsz < {_KANON_K} THEN gsz ELSE 0 END) AS n_unsafe_rows
  FROM coarse
  UNION ALL
  SELECT 'nation+segment+balance_bucket', sum(gsz), count(*), min(gsz),
         sum(CASE WHEN gsz < {_KANON_K} THEN gsz ELSE 0 END)
  FROM fine
)
SELECT qi_set, CAST({_KANON_K} AS INTEGER) AS k,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_groups AS BIGINT) AS n_groups,
       CAST(min_group_size AS BIGINT) AS min_group_size,
       CAST(n_unsafe_rows AS BIGINT) AS n_unsafe_rows,
       floor((CAST(n_unsafe_rows AS DOUBLE) / n_rows) * 1000000 + 0.5) / 1000000.0
         AS unsafe_row_rate
FROM rolled ORDER BY qi_set
"""

QUERIES["pipeline_k_anonymity"] = pipeline_k_anonymity
ORACLE["pipeline_k_anonymity"] = ORACLE_PIPELINE_K_ANONYMITY


# ---------------------------------------------------------------------------
# Deterministic bootstrap confidence interval
# ---------------------------------------------------------------------------

#: Bootstrap replicates and the md5-uniform scale (the sampler-family
#: convention: 8 hex chars → (0, 2^32]).
_BT_REPLICATES = 120
_BT_SCALE = 2 ** 32
#: Poisson(1) CDF steps for the multinomial-approximation weights
#: (P(W<=k) for k = 0..5; u above the last step → weight 6).
_BT_POISSON_CDF = (0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
                   0.9810118431238462, 0.9963401531726563, 0.9994058151824183)


def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean order value per
    order status — uncertainty quantification for a data-quality
    metric, which no point-estimate op in the pack provides.  Classic
    multiplier bootstrap: each of ``_BT_REPLICATES`` replicates
    reweights every row by an i.i.d.-Poisson(1)-distributed integer
    (the large-n limit of multinomial resampling); the replicate
    means' 2.5/97.5 percentiles are the interval.

    No RNG: ONE md5 per row (the sampler-family hash convention)
    seeds a SplitMix-style integer mixer per replicate — two
    xor-shift-multiply rounds in exact BIGINT arithmetic, so the
    per-(row, replicate) uniform costs integer ops, not a fresh
    digest (an md5-per-pair draft ran 25 s at sf0.1; this shape runs
    ~2 s) — and the uniform inverts the Poisson(1) CDF through a
    fixed 6-step CASE cascade: integer weights, bit-identical in
    both engines, stable under re-runs and repartitioning.  Shape: the replicate dimension
    explodes BEFORE aggregation but partial sums combine map-side,
    so the shuffle carries #partitions x replicates partial rows,
    never the exploded corpus; replicate means are exact-integer-
    weighted sums of 2-dp prices, and the percentile runs over the
    tiny (status x replicates) relation with the interpolated
    convention.  Replicate count scales the scan cost linearly —
    the docstring constant is the knob a 100 TB user tunes down.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    seeded = orders.withColumn(
        "h",
        F.expr(
            "cast(conv(substring(md5(cast(o_orderkey as string)), 1, 8), 16, 10)"
            " as bigint)"
        ),
    )
    rep = seeded.select(
        "status",
        "cents",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(_BT_REPLICATES - 1))).alias("r"),
    )
    z0 = "((h + r * 2654435761) % 4294967296)"
    z1 = f"((({z0} ^ ({z0} div 65536)) * 73244475) % 4294967296)"
    z2 = f"((({z1} ^ ({z1} div 65536)) * 73244475) % 4294967296)"
    u = (F.expr(z2) + 1) / F.lit(float(_BT_SCALE + 2))
    wexpr = F.lit(6)
    for k in range(len(_BT_POISSON_CDF) - 1, -1, -1):
        wexpr = F.when(u <= _BT_POISSON_CDF[k], k).otherwise(wexpr)
    means = (
        rep.withColumn("w", wexpr)
        .groupBy("status", "r")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("wsum"),
            F.sum("w").alias("wn"),
        )
        .where(F.col("wn") > 0)
        .select(
            "status", (F.col("wsum") / F.col("wn") / 100.0).alias("m")
        )
    )
    point = orders.groupBy("status").agg(
        pround(F.sum("cents") / F.count(F.lit(1)) / 100.0, 4).alias("mean_value"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    ci = means.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        pround(F.expr("percentile(m, 0.025)"), 4).alias("ci_lo"),
        pround(F.expr("percentile(m, 0.975)"), 4).alias("ci_hi"),
    )
    return (
        point.join(ci, "status")
        .select("status", "n_orders", "mean_value", "n_replicates", "ci_lo", "ci_hi")
        .orderBy("status")
    )


def _bt_weight_sql() -> str:
    z0 = "((h + r * 2654435761) % 4294967296)"
    z1 = f"(((xor({z0}, {z0} // 65536)) * 73244475) % 4294967296)"
    z2 = f"(((xor({z1}, {z1} // 65536)) * 73244475) % 4294967296)"
    u = f"(({z2} + 1) / {float(_BT_SCALE + 2)!r})"
    w = "6"
    for k in range(len(_BT_POISSON_CDF) - 1, -1, -1):
        w = f"CASE WHEN {u} <= {_BT_POISSON_CDF[k]!r} THEN {k} ELSE {w} END"
    return w


ORACLE_STATS_BOOTSTRAP_CI = f"""
WITH o AS (
  SELECT o_orderkey, o_orderstatus AS status,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
seeded AS (
  SELECT status, cents,
         CAST({_hex_to_int_sql("md5(CAST(o_orderkey AS VARCHAR))", 8)} AS BIGINT) AS h
  FROM o
),
means AS (
  SELECT status, r, CAST(sum(w * cents) AS DOUBLE) / sum(w) / 100.0 AS m
  FROM (
    SELECT status, cents, i AS r, ({_bt_weight_sql()}) AS w
    FROM seeded CROSS JOIN (SELECT unnest(generate_series(0, {_BT_REPLICATES - 1})) AS i)
  ) GROUP BY 1, 2
  HAVING sum(w) > 0
),
point AS (
  SELECT status,
         floor((CAST(sum(cents) AS DOUBLE) / count(*) / 100.0) * 10000 + 0.5) / 10000.0
           AS mean_value,
         count(*) AS n_orders
  FROM o GROUP BY 1
),
ci AS (
  SELECT status, CAST(count(*) AS BIGINT) AS n_replicates,
         floor(quantile_cont(m, 0.025) * 10000 + 0.5) / 10000.0 AS ci_lo,
         floor(quantile_cont(m, 0.975) * 10000 + 0.5) / 10000.0 AS ci_hi
  FROM means GROUP BY 1
)
SELECT status, CAST(n_orders AS BIGINT) AS n_orders, mean_value,
       n_replicates, ci_lo, ci_hi
FROM point JOIN ci USING (status)
ORDER BY status
"""

QUERIES["stats_bootstrap_ci"] = stats_bootstrap_ci
ORACLE["stats_bootstrap_ci"] = ORACLE_STATS_BOOTSTRAP_CI


# ---------------------------------------------------------------------------
# A/B conversion z-test
# ---------------------------------------------------------------------------

#: Two-sided 5% critical value.
_AB_Z_CRIT = 1.959963984540054


def events_ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on view→purchase conversion between a
    deterministic 50/50 user split — the experiment-analysis readout
    (`agg_chi_square_independence` tests a whole contingency table;
    this is the paired-arm form with effect size and a significance
    verdict that an A/B dashboard shows).

    Assignment is the pack's hash convention (md5 parity of user_id:
    no RNG, stable under reruns), so the two arms are a true null —
    the expected verdict is NOT significant, and a significant one
    flags exactly the hash-imbalance pathology the op exists to
    detect.  Conversion is time-bounded (a purchase within 24 h of
    the user's FIRST view — the events_time_to_convert attribution
    shape) so the pooled rate sits strictly inside (0, 1) on any
    active corpus; a degenerate corpus (rate 0 or 1) nulls the
    z columns identically in both engines via the WHEN/CASE guard
    rather than dividing by a zero standard error.  Shape: one
    per-user conditional aggregation (the only corpus shuffle), then
    1-row-per-arm stats and scalar arithmetic; the pooled z composes
    from integer counts with identical double ops in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_type").isin("view", "purchase")).select(
        "user_id", "event_type", "ts"
    )
    # Optimization r18 (guide §5): fv sits on both sides of a diamond
    # (the conversion join AND the user frame), and the 2-row arms
    # aggregate feeds both arm selections — checkpoint each so the
    # events scan + aggregates run once, not 2–4×.
    fv = (
        base.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fv"))
        .localCheckpoint(eager=False)
    )
    conv = (
        base.where(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .where(
            (F.col("ts") > F.col("fv"))
            & (F.col("ts") <= F.col("fv") + F.expr("INTERVAL 24 HOURS"))
        )
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    users = fv.join(conv, "user_id", "left").select(
        "user_id",
        F.coalesce("converted", F.lit(0)).alias("converted"),
    ).withColumn(
        "arm",
        F.expr(
            "cast(conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10)"
            " as bigint) % 2"
        ),
    )
    arms = users.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    ).localCheckpoint(eager=False)
    a = arms.where(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("conv").alias("c_a")
    )
    b = arms.where(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("conv").alias("c_b")
    )
    # Two 1-row relations; the checkpointed arms relation carries no
    # size estimate, so hint the broadcast explicitly to keep the
    # BroadcastNestedLoopJoin (the planner fell back to a
    # CartesianProduct on the unknown-sized RDD scan otherwise).
    j = a.crossJoin(F.broadcast(b))
    p_a = F.col("c_a") / F.col("n_a")
    p_b = F.col("c_b") / F.col("n_b")
    p = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(p * (1 - p) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    z = F.when((p > 0) & (p < 1), (p_a - p_b) / se)
    return j.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        pround(p_a, 6).alias("conv_rate_a"),
        pround(p_b, 6).alias("conv_rate_b"),
        pround(p_a - p_b, 6).alias("uplift"),
        pround(z, 4).alias("z_stat"),
        (F.abs(z) > _AB_Z_CRIT).alias("significant_05"),
    )


ORACLE_EVENTS_AB_CONVERSION_ZTEST = f"""
WITH fv AS (
  SELECT user_id, min(ts) AS fv FROM events WHERE event_type = 'view'
  GROUP BY user_id
),
conv AS (
  SELECT DISTINCT e.user_id
  FROM events e JOIN fv USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.ts > fv.fv AND e.ts <= fv.fv + INTERVAL 24 HOUR
),
users AS (
  SELECT fv.user_id,
         CASE WHEN conv.user_id IS NULL THEN 0 ELSE 1 END AS converted,
         CAST({_hex_to_int_sql("md5(CAST(fv.user_id AS VARCHAR))", 8)} AS BIGINT) % 2 AS arm
  FROM fv LEFT JOIN conv ON fv.user_id = conv.user_id
),
arms AS (
  SELECT arm, count(*) AS n, sum(converted) AS conv FROM users GROUP BY 1
),
j AS (
  SELECT a.n AS n_a, a.conv AS c_a, b.n AS n_b, b.conv AS c_b
  FROM (SELECT n, conv FROM arms WHERE arm = 0) a,
       (SELECT n, conv FROM arms WHERE arm = 1) b
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       floor((CAST(c_a AS DOUBLE) / n_a) * 1000000 + 0.5) / 1000000.0 AS conv_rate_a,
       floor((CAST(c_b AS DOUBLE) / n_b) * 1000000 + 0.5) / 1000000.0 AS conv_rate_b,
       floor((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b) * 1000000 + 0.5) / 1000000.0 AS uplift,
       CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
         floor(((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                       * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                       * (1.0 / n_a + 1.0 / n_b))) * 10000 + 0.5) / 10000.0 END
         AS z_stat,
       CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
         abs((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
             / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                    * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b))) > {_AB_Z_CRIT!r} END
         AS significant_05
FROM j
"""

QUERIES["events_ab_conversion_ztest"] = events_ab_conversion_ztest
ORACLE["events_ab_conversion_ztest"] = ORACLE_EVENTS_AB_CONVERSION_ZTEST
