"""Fourth staged operator pack — built in round 9, REGISTERED with
the driver in round 10 (registry 267 → 286).

Same contract as the first three staged packs (operators/staged.py
round 6 → 7, staged2.py 7 → 8, staged3.py 8 → 9): every key ships
with a DataFrame-first implementation, an ANSI/DuckDB oracle twin,
engine-portable arithmetic (pround / integer scaling /
cross-multiplied comparisons / single double expressions over exact
integer sums), a scale-shape docstring, and local differential tests
(tests/test_staged4_operators.py, including a pack-wide empty-corpus
oracle differential).

Round-10 registration record (the staged3 drill, re-run same-session
before the ``_modules()`` flip): strict dtype-exact battery 19/19 at
sf0.001 AND sf0.01 AND sf0.1 (tools/staged2_check.py --staged4),
adversarial sweep 19/19 clean, partition invariance 19/19, 75 pack
tests green; ``_STAGED4_NLJ_OK`` folded into the plan sweep's
``_NLJ_OK``; the staging guard inverted to
``test_staged4_keys_registered``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from parquet_stream_writer_spark.functions import WS_CLASS, pround
from parquet_stream_writer_spark.sources import load_table, scan_parallel

QUERIES: dict = {}
ORACLE: dict = {}


# ---------------------------------------------------------------------------
# Vocabulary coverage curve (OOV rate vs top-K vocab cutoffs)
# ---------------------------------------------------------------------------

#: Top-K vocabulary cutoffs for the coverage curve (log-spaced so the
#: curve is informative on a 40-type synthetic vocabulary AND a
#: 1e6-type web corpus alike).
_COVERAGE_KS = (1, 2, 4, 8, 16, 32, 64, 128)


def text_oov_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-stream coverage at top-K vocabulary cutoffs: for each K
    in a log-spaced grid, the share of the corpus token stream covered
    by the K most frequent tokens — the curve that sizes a tokenizer
    vocabulary (where does coverage saturate?) and prices the OOV rate
    of any cutoff before training.

    Exactness: token counts are exact integers; frequency rank is a
    deterministic (count desc, token asc) row_number; per-K covered
    counts are exact integer conditional sums; each coverage share is
    ONE division of two exact integers, 6-dp rounded.  The tokenizer
    uses the explicit ``WS_CLASS`` whitespace class (round 16): Java's
    ``\\s`` matches vertical tab while RE2's does not, so a ``\\s+``
    split could diverge on a \\x0B-bearing corpus.

    Shape: one token hash aggregate (vocab-sized, NOT corpus-sized);
    the rank only matters up to max(Ks)=128, so a TakeOrdered
    ``orderBy().limit(128)`` bounds the head relation BEFORE the rank
    window (map-side O(v·log 128) heads, never a global vocab sort —
    the window then runs on ≤ 128 rows); a ≤ |Ks|-row rollup from a
    grid-conditional sum — the corpus is touched once.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), WS_CLASS)).alias("tok")
    ).where(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    head = vocab.orderBy(F.desc("cnt"), F.asc("tok")).limit(
        max(_COVERAGE_KS)
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    ranked = head.withColumn("rk", F.row_number().over(w))
    ks = spark.range(len(_COVERAGE_KS)).select(
        F.element_at(
            F.array(*[F.lit(k) for k in _COVERAGE_KS]),
            (F.col("id") + 1).cast("int"),
        ).alias("k")
    )
    grid = ranked.join(F.broadcast(ks), F.col("rk") <= F.col("k"))
    totals = vocab.agg(
        F.sum("cnt").alias("total_toks"), F.count(F.lit(1)).alias("vocab_size")
    )
    return (
        grid.groupBy("k")
        .agg(F.sum("cnt").alias("covered"))
        .join(F.broadcast(totals))
        .select(
            "k",
            "covered",
            "total_toks",
            "vocab_size",
            pround(F.col("covered") / F.col("total_toks"), 6).alias(
                "coverage"
            ),
            pround(
                1 - F.col("covered") / F.col("total_toks"), 6
            ).alias("oov_rate"),
        )
        .orderBy("k")
    )


ORACLE_TEXT_OOV_COVERAGE = f"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '{WS_CLASS}')) AS tok
  FROM documents
),
vocab AS (
  SELECT tok, count(*) AS cnt FROM toks WHERE tok <> '' GROUP BY 1
),
ranked AS (
  SELECT tok, cnt,
         row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rk
  FROM vocab
),
totals AS (
  SELECT sum(cnt) AS total_toks, count(*) AS vocab_size FROM vocab
),
ks AS (SELECT unnest([{", ".join(str(k) for k in _COVERAGE_KS)}]) AS k)
SELECT ks.k,
       CAST(sum(r.cnt) AS BIGINT) AS covered,
       CAST(t.total_toks AS BIGINT) AS total_toks,
       t.vocab_size,
       floor((CAST(sum(r.cnt) AS DOUBLE) / t.total_toks) * 1000000 + 0.5)
         / 1000000.0 AS coverage,
       floor((1 - CAST(sum(r.cnt) AS DOUBLE) / t.total_toks) * 1000000 + 0.5)
         / 1000000.0 AS oov_rate
FROM ks JOIN ranked r ON r.rk <= ks.k
CROSS JOIN totals t
GROUP BY ks.k, t.total_toks, t.vocab_size
ORDER BY ks.k
"""

QUERIES["text_oov_coverage"] = text_oov_coverage
ORACLE["text_oov_coverage"] = ORACLE_TEXT_OOV_COVERAGE


# ---------------------------------------------------------------------------
# Sign-bit Hamming top-k (binary-code ANN primitive)
# ---------------------------------------------------------------------------

#: Probe sample: vectors whose id is a multiple of this stride act as
#: queries (deterministic, no RNG).
_HAM_PROBE_STRIDE = 101
#: Neighbours reported per probe.
_HAM_TOPK = 5


def similarity_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-code ANN: every embedding is collapsed to a 64-bit sign
    code (one bit per dimension, packed as two 32-bit words), and each
    probe's top-k nearest neighbours by HAMMING distance are reported
    — the memory-lean retrieval tier (8 bytes/vector, XOR+popcount
    compare) that re-ranks under exact cosine in a second pass at
    production scale.

    Exactness: sign bits compare ``v >= 0`` on the raw stored floats
    (identical in both engines); codes pack bits with exact integer
    shifts ≤ 31 per word (DuckDB range-checks ``1 << 63``, so the
    straight 64-bit pack is not portable — two words are, and
    generalize to any d); Hamming sums ``bit_count(xor)`` over the
    words — exact integers end to end; ties broken by neighbour id.

    Shape: the code relation is 2 rows × 8 B per vector; probes are a
    1/101 deterministic sample broadcast against it (|probes|·n
    one-instruction compares, never a float n² GEMM); per-probe
    row_number keeps k.  At 100×, swap the broadcast for the
    block-grid pattern of ``similarity_pair_topk`` — the compare
    stays sub-ns per candidate.
    """
    emb = scan_parallel(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    bits = emb.select(
        "vec_id", F.posexplode("emb").alias("dim", "v")
    ).select(
        "vec_id",
        F.expr("CAST(dim DIV 32 AS INT)").alias("word"),
        F.expr(
            "IF(v >= 0.0D, shiftleft(1L, CAST(dim % 32 AS INT)), 0L)"
        ).alias("bit"),
    )
    codes = bits.groupBy("vec_id", "word").agg(
        F.expr("bit_or(bit)").alias("code")
    )
    probes = codes.where(F.col("vec_id") % _HAM_PROBE_STRIDE == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("word").alias("qword"),
        F.col("code").alias("qcode"),
    )
    scored = (
        codes.join(
            F.broadcast(probes),
            (F.col("word") == F.col("qword")) & (F.col("vec_id") != F.col("qid")),
        )
        .groupBy("qid", F.col("vec_id").alias("nid"))
        .agg(F.sum(F.expr("bit_count(code ^ qcode)")).alias("hamming"))
    )
    w = Window.partitionBy("qid").orderBy("hamming", "nid")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _HAM_TOPK)
        .select("qid", F.col("rk").cast("int").alias("rk"), "nid", "hamming")
        .orderBy("qid", "rk")
    )


ORACLE_SIMILARITY_HAMMING_TOPK = f"""
WITH comps AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
bits AS (
  SELECT vec_id, CAST(dim // 32 AS INTEGER) AS word,
         CASE WHEN v >= 0.0
              THEN (1::BIGINT << CAST(dim % 32 AS INTEGER))
              ELSE 0::BIGINT END AS bit
  FROM comps
),
codes AS (
  SELECT vec_id, word, CAST(bit_or(bit) AS BIGINT) AS code
  FROM bits GROUP BY 1, 2
),
probes AS (
  SELECT vec_id AS qid, word AS qword, code AS qcode FROM codes
  WHERE vec_id % {_HAM_PROBE_STRIDE} = 0
),
scored AS (
  SELECT p.qid, c.vec_id AS nid,
         CAST(sum(bit_count(xor(c.code, p.qcode))) AS BIGINT) AS hamming
  FROM codes c
  JOIN probes p ON c.word = p.qword AND c.vec_id <> p.qid
  GROUP BY 1, 2
),
ranked AS (
  SELECT qid, nid, hamming,
         row_number() OVER (PARTITION BY qid ORDER BY hamming, nid) AS rk
  FROM scored
)
SELECT qid, CAST(rk AS INTEGER) AS rk, nid, hamming
FROM ranked WHERE rk <= {_HAM_TOPK}
ORDER BY qid, rk
"""

QUERIES["similarity_hamming_topk"] = similarity_hamming_topk
ORACLE["similarity_hamming_topk"] = ORACLE_SIMILARITY_HAMMING_TOPK


# ---------------------------------------------------------------------------
# Embedding isotropy audit (mean pairwise cosine without the n² pairs)
# ---------------------------------------------------------------------------


def embedding_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy audit per label: the mean pairwise cosine of the
    label's UNIT-normalized vectors, computed from the closed-form
    identity  mean_cos = (‖Σx̂‖² − n) / (n(n−1))  — no pair expansion.
    An anisotropic (cone-shaped) embedding space inflates every cosine
    similarity and silently breaks threshold-based dedup/ANN; this is
    the one-pass detector.

    Exactness: RAW components quantize to exact 1e-6-unit integers
    FIRST (ADVICE r9 fix: quantize-before-norm, the pack convention),
    so ‖v₆‖² is an exact integer sum — the fold accumulates in LONG
    and casts to double only inside the sqrt (ADVICE r10 fix: a
    double-seeded fold becomes rounding/order-dependent past 2^53,
    and the oracle sums exact BIGINTs), order-independent in any
    engine — and the norm is one IEEE sqrt of that exact integer that
    both engines round identically; the unit component v₆/‖v₆‖ then
    re-quantizes to 1e-6-unit integers, per-dimension sums and their
    squares are exact integer arithmetic, and the final mean-cos is
    ONE double expression of exact integers, 6-dp rounded (n quantized
    self-cosines ≈ 1e12 each, so the identity subtracts the exact
    Σ‖x̂ᵢ‖² integer rather than assuming n·1e12).

    Shape: one posexplode (n·d rows), one (label, dim) hash aggregate
    to d-sized cells, one label rollup — linear in n·d, constant
    output.
    """
    emb = scan_parallel(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    norm = (
        emb.select(
            "vec_id",
            "label",
            F.transform(
                "emb",
                lambda x: F.floor(x * 1000000 + F.lit(0.5)).cast("long"),
            ).alias("v6s"),
        )
        .select(
            "vec_id",
            "label",
            "v6s",
            F.sqrt(
                F.aggregate(
                    "v6s",
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x * x,
                ).cast("double")
            ).alias("nrm"),
        )
        .where(F.col("nrm") > 0)
    )
    comps = norm.select(
        "vec_id", "label", F.posexplode("v6s").alias("dim", "v6"), "nrm"
    ).select(
        "vec_id",
        "label",
        "dim",
        F.floor(F.col("v6") / F.col("nrm") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("u6"),
    )
    per_vec = comps.groupBy("vec_id", "label").agg(
        F.sum(F.col("u6") * F.col("u6")).alias("self6")
    )
    per_dim = comps.groupBy("label", "dim").agg(F.sum("u6").alias("s6"))
    agg = per_dim.groupBy("label").agg(
        F.sum(F.col("s6") * F.col("s6")).alias("ss")
    )
    counts = per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.sum("self6").alias("selfsum")
    )
    return (
        agg.join(counts, "label")
        .where(F.col("n") > 1)
        .select(
            "label",
            "n",
            pround(
                (F.col("ss").cast("double") - F.col("selfsum"))
                / (
                    F.col("selfsum").cast("double")
                    / F.col("n")
                    * F.col("n")
                    * (F.col("n") - 1)
                ),
                6,
            ).alias("mean_cos"),
        )
        .orderBy("label")
    )


ORACLE_EMBEDDING_ISOTROPY_AUDIT = """
WITH comps AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS v6
  FROM embeddings
),
norms AS (
  SELECT vec_id, label, sqrt(CAST(sum(v6 * v6) AS DOUBLE)) AS nrm
  FROM comps GROUP BY 1, 2 HAVING sum(v6 * v6) > 0
),
q AS (
  SELECT c.vec_id, c.label, c.dim,
         CAST(floor(c.v6 / n.nrm * 1000000 + 0.5) AS BIGINT) AS u6
  FROM comps c JOIN norms n ON c.vec_id = n.vec_id
),
per_vec AS (
  SELECT vec_id, label, sum(u6 * u6) AS self6 FROM q GROUP BY 1, 2
),
per_dim AS (
  SELECT label, dim, sum(u6) AS s6 FROM q GROUP BY 1, 2
),
agg AS (SELECT label, sum(s6 * s6) AS ss FROM per_dim GROUP BY 1),
counts AS (
  SELECT label, count(*) AS n, sum(self6) AS selfsum FROM per_vec GROUP BY 1
)
SELECT a.label, c.n,
       floor(((CAST(a.ss AS DOUBLE) - c.selfsum)
              / (CAST(c.selfsum AS DOUBLE) / c.n * c.n * (c.n - 1)))
             * 1000000 + 0.5) / 1000000.0 AS mean_cos
FROM agg a JOIN counts c ON a.label = c.label
WHERE c.n > 1
ORDER BY a.label
"""

QUERIES["embedding_isotropy_audit"] = embedding_isotropy_audit
ORACLE["embedding_isotropy_audit"] = ORACLE_EMBEDDING_ISOTROPY_AUDIT


# ---------------------------------------------------------------------------
# Dedup-aware sampling weights (inverse cluster size)
# ---------------------------------------------------------------------------


def sample_dedup_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware sampling weights: every document is weighted by the
    INVERSE of its near-dup cluster size (singletons weight 1), so a
    10-way duplicated page contributes one page's worth of sampling
    mass instead of ten — the standard correction that stops duplicated
    boilerplate from dominating a training mix WITHOUT dropping docs.
    Reports, per source, the raw vs dedup-weighted corpus share and the
    effective sample size (ESS = (Σw)²/Σw²).

    Exactness: weights are exact integer µ-units (``1e6 div size`` —
    integer division, identical in both engines); shares and ESS are
    single double expressions of exact integer sums, 6-/2-dp rounded.

    Shape: rides the memoized connected-component labels (verified
    pairs → label fixpoint); one label⋈docs join, one
    cluster-size aggregate over the label relation (component-sized,
    tiny under the upstream bucket cap), one source rollup + a 1-row
    total broadcast.
    """
    from parquet_stream_writer_spark.operators.dedup import (
        dedup_connected_components,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    labels = dedup_connected_components(spark, sf_dir)
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("csize")
    )
    weighted = (
        docs.join(labels, "doc_id", "left")
        .join(sizes, "component", "left")
        .select(
            "doc_id",
            "source",
            (F.lit(1000000) / F.coalesce(F.col("csize"), F.lit(1)))
            .cast("long")
            .alias("w6"),
        )
    )
    per_source = weighted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w6").alias("wsum"),
        F.sum(F.col("w6") * F.col("w6")).alias("wsq"),
    )
    totals = per_source.agg(
        F.sum("n_docs").alias("tot_docs"), F.sum("wsum").alias("tot_w")
    )
    return (
        per_source.join(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            pround(F.col("n_docs") / F.col("tot_docs"), 6).alias("raw_share"),
            pround(F.col("wsum") / F.col("tot_w"), 6).alias(
                "weighted_share"
            ),
            pround(
                (F.col("wsum").cast("double") * F.col("wsum"))
                / F.col("wsq"),
                2,
            ).alias("ess"),
        )
        .orderBy("source")
    )


def _sql_sample_dedup_aware() -> str:
    from parquet_stream_writer_spark.operators.dedup import _SQL_CC_COMPONENTS

    return f"""WITH RECURSIVE {_SQL_CC_COMPONENTS},
sizes AS (
  SELECT component, count(*) AS csize FROM comp GROUP BY 1
),
weighted AS (
  SELECT d.doc_id, d.source,
         CAST(1000000 // coalesce(s.csize, 1) AS BIGINT) AS w6
  FROM documents d
  LEFT JOIN comp c ON d.doc_id = c.doc_id
  LEFT JOIN sizes s ON c.component = s.component
),
per_source AS (
  SELECT source, count(*) AS n_docs, sum(w6) AS wsum,
         sum(w6 * w6) AS wsq
  FROM weighted GROUP BY 1
),
totals AS (
  SELECT sum(n_docs) AS tot_docs, sum(wsum) AS tot_w FROM per_source
)
SELECT p.source, p.n_docs,
       floor((CAST(p.n_docs AS DOUBLE) / t.tot_docs) * 1000000 + 0.5)
         / 1000000.0 AS raw_share,
       floor((CAST(p.wsum AS DOUBLE) / t.tot_w) * 1000000 + 0.5)
         / 1000000.0 AS weighted_share,
       floor(((CAST(p.wsum AS DOUBLE) * p.wsum) / p.wsq) * 100 + 0.5)
         / 100.0 AS ess
FROM per_source p CROSS JOIN totals t
ORDER BY p.source
"""


ORACLE_SAMPLE_DEDUP_AWARE = _sql_sample_dedup_aware()

QUERIES["sample_dedup_aware"] = sample_dedup_aware
ORACLE["sample_dedup_aware"] = ORACLE_SAMPLE_DEDUP_AWARE


# ---------------------------------------------------------------------------
# Dedup survivor-quality differential
# ---------------------------------------------------------------------------


def text_dedup_survivor_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality differential between dedup SURVIVORS (each component's
    canonical min-id doc, plus all singletons) and REMOVED docs: doc
    counts, mean length and the length ratio, per source — the sanity
    check that the dedup policy is not systematically discarding the
    longer (usually higher-quality) member of each cluster.

    Exactness: counts and char sums are exact integers; means and the
    ratio are single double expressions of exact integers, 2-/4-dp
    rounded; sources with no removed docs report nulls (both engines
    null-propagate the removed-side aggregates through the outer
    join).

    Shape: rides the memoized connected-component labels; one
    label⋈docs join, one (source, status) hash aggregate over bounded
    cells, one cell-relation pivot join.
    """
    from parquet_stream_writer_spark.operators.dedup import (
        dedup_connected_components,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    labels = dedup_connected_components(spark, sf_dir)
    status = docs.join(labels, "doc_id", "left").select(
        "source",
        "n_chars",
        F.when(
            F.col("component").isNull()
            | (F.col("component") == F.col("doc_id")),
            F.lit("kept"),
        )
        .otherwise(F.lit("removed"))
        .alias("status"),
    )
    cells = status.groupBy("source", "status").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars")
    )
    kept = cells.where(F.col("status") == "kept").select(
        "source",
        F.col("n").alias("n_kept"),
        F.col("chars").alias("chars_kept"),
    )
    removed = cells.where(F.col("status") == "removed").select(
        F.col("source").alias("rsource"),
        F.col("n").alias("n_removed"),
        F.col("chars").alias("chars_removed"),
    )
    return (
        kept.join(removed, kept["source"] == removed["rsource"], "left")
        .select(
            "source",
            "n_kept",
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            pround(F.col("chars_kept") / F.col("n_kept"), 2).alias(
                "mean_chars_kept"
            ),
            pround(F.col("chars_removed") / F.col("n_removed"), 2).alias(
                "mean_chars_removed"
            ),
            pround(
                (F.col("chars_kept").cast("double") / F.col("n_kept"))
                / (F.col("chars_removed").cast("double") / F.col("n_removed")),
                4,
            ).alias("kept_removed_len_ratio"),
        )
        .orderBy("source")
    )


def _sql_survivor_quality() -> str:
    from parquet_stream_writer_spark.operators.dedup import _SQL_CC_COMPONENTS

    return f"""WITH RECURSIVE {_SQL_CC_COMPONENTS},
status AS (
  SELECT d.source, d.n_chars,
         CASE WHEN c.component IS NULL OR c.component = d.doc_id
              THEN 'kept' ELSE 'removed' END AS status
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
cells AS (
  SELECT source, status, count(*) AS n, sum(n_chars) AS chars
  FROM status GROUP BY 1, 2
),
kept AS (
  SELECT source, n AS n_kept, chars AS chars_kept
  FROM cells WHERE status = 'kept'
),
removed AS (
  SELECT source AS rsource, n AS n_removed, chars AS chars_removed
  FROM cells WHERE status = 'removed'
)
SELECT k.source, k.n_kept,
       coalesce(r.n_removed, 0) AS n_removed,
       floor((CAST(k.chars_kept AS DOUBLE) / k.n_kept) * 100 + 0.5)
         / 100.0 AS mean_chars_kept,
       floor((CAST(r.chars_removed AS DOUBLE) / r.n_removed) * 100 + 0.5)
         / 100.0 AS mean_chars_removed,
       floor(((CAST(k.chars_kept AS DOUBLE) / k.n_kept)
              / (CAST(r.chars_removed AS DOUBLE) / r.n_removed))
             * 10000 + 0.5) / 10000.0 AS kept_removed_len_ratio
FROM kept k LEFT JOIN removed r ON k.source = r.rsource
ORDER BY k.source
"""


ORACLE_TEXT_DEDUP_SURVIVOR_QUALITY = _sql_survivor_quality()

QUERIES["text_dedup_survivor_quality"] = text_dedup_survivor_quality
ORACLE["text_dedup_survivor_quality"] = ORACLE_TEXT_DEDUP_SURVIVOR_QUALITY


# ---------------------------------------------------------------------------
# Small-file compaction plan
# ---------------------------------------------------------------------------

#: Compaction target per output file.  1 MiB keeps the plan
#: non-degenerate on the synthetic corpus; production pipelines set
#: this to the classic 128 MiB (= ``spark.sql.files.maxPartitionBytes``
#: default) — the arithmetic is identical.
_COMPACT_TARGET_BYTES = 1 << 20


def pipeline_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: treating each document as one
    object-store file (the classic ingest-produced small-file mess),
    plan per source how many target-sized output files a compaction
    job would write and the open()-call reduction — the table-
    maintenance step that keeps a 100 TB lake scannable (a million
    1 MB files costs more in NameNode/S3 LIST + task scheduling than
    the scan itself).

    Exactness: byte totals are exact integer ``octet_length`` sums;
    target file counts are TRUE integer ceil-division
    ``(bytes + T − 1) div T``; the reduction ratio is one division of
    two exact integers.

    Shape: one map-side byte expression + source hash aggregate —
    bounded cells from a single corpus scan.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.octet_length("text").cast("long").alias("nbytes")
    )
    t = _COMPACT_TARGET_BYTES
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_files_now"),
            F.sum("nbytes").alias("total_bytes"),
            F.max("nbytes").alias("max_file_bytes"),
        )
        .select(
            "source",
            "n_files_now",
            "total_bytes",
            "max_file_bytes",
            ((F.col("total_bytes") + F.lit(t - 1)) / F.lit(t))
            .cast("long")
            .alias("n_files_target"),
            pround(
                F.col("n_files_now")
                / ((F.col("total_bytes") + F.lit(t - 1)) / F.lit(t)).cast(
                    "long"
                ),
                2,
            ).alias("open_call_reduction"),
        )
        .orderBy("source")
    )


ORACLE_PIPELINE_COMPACTION_PLAN = f"""
WITH per_source AS (
  SELECT source, count(*) AS n_files_now,
         sum(octet_length(encode(text))) AS total_bytes,
         max(octet_length(encode(text))) AS max_file_bytes
  FROM documents GROUP BY 1
)
SELECT source, n_files_now,
       CAST(total_bytes AS BIGINT) AS total_bytes,
       CAST(max_file_bytes AS BIGINT) AS max_file_bytes,
       CAST((total_bytes + {_COMPACT_TARGET_BYTES - 1})
            // {_COMPACT_TARGET_BYTES} AS BIGINT) AS n_files_target,
       floor((CAST(n_files_now AS DOUBLE)
              / ((total_bytes + {_COMPACT_TARGET_BYTES - 1})
                 // {_COMPACT_TARGET_BYTES})) * 100 + 0.5) / 100.0
         AS open_call_reduction
FROM per_source
ORDER BY source
"""

QUERIES["pipeline_compaction_plan"] = pipeline_compaction_plan
ORACLE["pipeline_compaction_plan"] = ORACLE_PIPELINE_COMPACTION_PLAN


# ---------------------------------------------------------------------------
# Tombstone (right-to-erasure) delete audit
# ---------------------------------------------------------------------------

#: Deterministic tombstone list: every doc whose id is a multiple of
#: this modulus is marked for deletion (stands in for an external
#: erasure-request table; no RNG).
_TOMBSTONE_MOD = 37


def pipeline_tombstone_delete_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Right-to-erasure delete sweep audit: given a tombstone list
    (docs that must be purged), report per source how many docs and
    bytes the sweep removes, the survivor count, and — the compliance
    column — how many tombstoned docs LEAK into the survivor set
    (structurally zero for an anti-join sweep; the audit computes it
    from the survivor relation rather than asserting it, so a broken
    sweep implementation would be caught, not assumed away).

    Exactness: all counts and byte sums are exact integers; the
    deleted share is one division.

    Shape: the tombstone list derives map-side from the id (no join to
    build it); the sweep is one LEFT ANTI join on doc_id; the leak
    check re-joins survivors to tombstones (semi) — all id-keyed hash
    joins, one source rollup.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    tomb = docs.where(F.col("doc_id") % _TOMBSTONE_MOD == 0).select(
        "doc_id"
    )
    survivors = docs.join(tomb, "doc_id", "left_anti")
    leaks = survivors.join(tomb, "doc_id", "left_semi")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("doc_id") % _TOMBSTONE_MOD == 0, 1).otherwise(0)
        ).alias("n_deleted"),
        F.sum(
            F.when(
                F.col("doc_id") % _TOMBSTONE_MOD == 0, F.col("n_chars")
            ).otherwise(0)
        ).alias("bytes_reclaimed"),
    )
    leak_counts = leaks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_leaked")
    )
    return (
        per_source.join(leak_counts, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_deleted",
            (F.col("n_docs") - F.col("n_deleted")).alias("n_survivors"),
            "bytes_reclaimed",
            F.coalesce("n_leaked", F.lit(0)).alias("n_leaked"),
            pround(F.col("n_deleted") / F.col("n_docs"), 6).alias(
                "deleted_share"
            ),
        )
        .orderBy("source")
    )


ORACLE_PIPELINE_TOMBSTONE_DELETE_AUDIT = f"""
WITH tomb AS (
  SELECT doc_id FROM documents WHERE doc_id % {_TOMBSTONE_MOD} = 0
),
survivors AS (
  SELECT d.* FROM documents d ANTI JOIN tomb t ON d.doc_id = t.doc_id
),
leaks AS (
  SELECT s.doc_id, s.source FROM survivors s
  SEMI JOIN tomb t ON s.doc_id = t.doc_id
),
per_source AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(CASE WHEN doc_id % {_TOMBSTONE_MOD} = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_deleted,
         CAST(sum(CASE WHEN doc_id % {_TOMBSTONE_MOD} = 0 THEN n_chars
                       ELSE 0 END) AS BIGINT) AS bytes_reclaimed
  FROM documents GROUP BY 1
),
leak_counts AS (
  SELECT source, count(*) AS n_leaked FROM leaks GROUP BY 1
)
SELECT p.source, p.n_docs, p.n_deleted,
       p.n_docs - p.n_deleted AS n_survivors,
       p.bytes_reclaimed,
       coalesce(l.n_leaked, 0) AS n_leaked,
       floor((CAST(p.n_deleted AS DOUBLE) / p.n_docs) * 1000000 + 0.5)
         / 1000000.0 AS deleted_share
FROM per_source p LEFT JOIN leak_counts l ON p.source = l.source
ORDER BY p.source
"""

QUERIES["pipeline_tombstone_delete_audit"] = pipeline_tombstone_delete_audit
ORACLE["pipeline_tombstone_delete_audit"] = ORACLE_PIPELINE_TOMBSTONE_DELETE_AUDIT


# ---------------------------------------------------------------------------
# Discount→quantity elasticity per brand
# ---------------------------------------------------------------------------


def orders_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount elasticity of demand per brand: the OLS slope of
    quantity on the discount level (percent points) across a brand's
    line items — "does discounting this brand actually move volume?".
    A positive slope reads as units gained per extra discount point.

    Exactness: x is the exact integer discount in percent points, y
    the exact integer quantity; all five co-moments (n, Σx, Σy, Σxy,
    Σx²) are exact integer sums; the slope is ONE double expression
    ((nΣxy − ΣxΣy) / (nΣx² − (Σx)²)), 6-dp rounded; zero-variance
    brands (every sale at the same discount) report null (both
    engines null-propagate the 0/0).

    Shape: one lineitem⋈part equi join (part is dimension-sized —
    Catalyst broadcasts it), one brand hash aggregate of integer
    co-moments, bounded brand cells out.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
        .cast("long")
        .alias("x"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("y"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    denom = m["n"] * m["sxx"] - m["sx"] * m["sx"]
    return m.select(
        "p_brand",
        "n",
        pround(F.col("sy") / F.col("n"), 2).alias("mean_qty"),
        pround(
            (
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                    "double"
                )
            )
            / F.when(denom != 0, denom.cast("double")),
            6,
        ).alias("qty_per_discount_pt"),
    ).orderBy("p_brand")


ORACLE_ORDERS_PRICE_ELASTICITY = """
WITH m AS (
  SELECT p.p_brand,
         count(*) AS n,
         sum(CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)) AS sx,
         sum(CAST(floor(l.l_quantity + 0.5) AS BIGINT)) AS sy,
         sum(CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)
             * CAST(floor(l.l_quantity + 0.5) AS BIGINT)) AS sxy,
         sum(CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)
             * CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)) AS sxx
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
)
SELECT p_brand, n,
       floor((CAST(sy AS DOUBLE) / n) * 100 + 0.5) / 100.0 AS mean_qty,
       floor((CAST(n * sxy - sx * sy AS DOUBLE)
              / (CASE WHEN n * sxx - sx * sx <> 0
                      THEN CAST(n * sxx - sx * sx AS DOUBLE) END))
             * 1000000 + 0.5) / 1000000.0 AS qty_per_discount_pt
FROM m
ORDER BY p_brand
"""

QUERIES["orders_price_elasticity"] = orders_price_elasticity
ORACLE["orders_price_elasticity"] = ORACLE_ORDERS_PRICE_ELASTICITY


# ---------------------------------------------------------------------------
# User-lifetime profile (nearest-rank percentiles over bounded day cells)
# ---------------------------------------------------------------------------


def events_user_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-lifetime profile: each user's active span (first event →
    last event, integer days) and intensity, rolled up to the
    corpus-level span distribution — the engagement-depth readout
    behind LTV models and retention targets.

    Exactness: spans are exact integer days (µs div 86400e6 on the
    span, so sub-day users report 0); the distribution is summarized
    by NEAREST-RANK percentiles computed from cumulative counts over
    the bounded span-day cell relation (exact integers, no
    interpolation, identical in both engines); means are single
    divisions of exact integer sums.

    Shape: one user hash aggregate (min/max/count), one bounded
    span-day cell aggregate, a cumulative window over the cell
    relation only (≤ observation-window-days rows), a 1-row rollup.
    Empty-input contract: zero users → zero rows in BOTH engines (the
    oracle filters its totals CTE on n_users > 0 to match this
    pipeline's empty cells relation — ADVICE r9 parity fix).
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.expr("unix_micros(cast(ts as timestamp))")
    per_user = (
        ev.select("user_id", us.alias("us"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_ev"),
            ((F.max("us") - F.min("us")) / F.lit(86400000000))
            .cast("long")
            .alias("span_days"),
        )
    )
    totals = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("span_days").alias("span_sum"),
        F.sum("n_ev").alias("ev_sum"),
    )
    cells = per_user.groupBy("span_days").agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = Window.orderBy("span_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.withColumn("cum", F.sum("c").over(wcum)).join(
        F.broadcast(totals)
    )

    def nearest(q: float):
        need = F.ceil(F.lit(q) * F.col("n_users")).cast("long")
        return F.min(
            F.when(F.col("cum") >= need, F.col("span_days"))
        )

    return cum.groupBy("n_users", "span_sum", "ev_sum").agg(
        nearest(0.5).alias("p50_span_days"),
        nearest(0.9).alias("p90_span_days"),
    ).select(
        "n_users",
        pround(F.col("span_sum") / F.col("n_users"), 2).alias(
            "mean_span_days"
        ),
        "p50_span_days",
        "p90_span_days",
        pround(F.col("ev_sum") / F.col("n_users"), 2).alias(
            "mean_events_per_user"
        ),
    )


ORACLE_EVENTS_USER_LIFETIME = """
WITH per_user AS (
  SELECT user_id, count(*) AS n_ev,
         CAST((max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000
              AS BIGINT) AS span_days
  FROM events GROUP BY 1
),
totals AS (
  SELECT count(*) AS n_users, sum(span_days) AS span_sum,
         sum(n_ev) AS ev_sum
  FROM per_user
),
cells AS (
  SELECT span_days, count(*) AS c FROM per_user GROUP BY 1
),
cum AS (
  SELECT span_days, sum(c) OVER (ORDER BY span_days
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM cells
)
SELECT t.n_users,
       floor((CAST(t.span_sum AS DOUBLE) / t.n_users) * 100 + 0.5) / 100.0
         AS mean_span_days,
       (SELECT min(CASE WHEN cum >= ceil(0.5 * t.n_users)
                        THEN span_days END) FROM cum) AS p50_span_days,
       (SELECT min(CASE WHEN cum >= ceil(0.9 * t.n_users)
                        THEN span_days END) FROM cum) AS p90_span_days,
       floor((CAST(t.ev_sum AS DOUBLE) / t.n_users) * 100 + 0.5) / 100.0
         AS mean_events_per_user
FROM totals t
WHERE t.n_users > 0
"""

QUERIES["events_user_lifetime"] = events_user_lifetime
ORACLE["events_user_lifetime"] = ORACLE_EVENTS_USER_LIFETIME


# ---------------------------------------------------------------------------
# Basket-size (lines per order) histogram
# ---------------------------------------------------------------------------


def orders_basket_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines-per-order histogram with cumulative order share and the
    revenue carried at each basket size — the order-shape profile
    that sizes picking batches and flags degenerate single-line order
    floods.

    Exactness: line counts and integer-cent revenue sums are exact;
    shares are single divisions; the cumulative share accumulates
    exact integer counts over the bounded size-cell relation before
    its one division.

    Shape: one order-grain hash aggregate (fact shuffle on
    l_orderkey), one bounded size-cell aggregate, a cumulative window
    over ≤ max-basket-size rows, a 1-row total broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("basket_size"),
        F.sum("cents").alias("cents"),
    )
    cells = per_order.groupBy("basket_size").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("rev_cents"),
    )
    totals = cells.agg(
        F.sum("n_orders").alias("tot_orders"),
        F.sum("rev_cents").alias("tot_cents"),
    )
    wcum = Window.orderBy("basket_size").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        cells.withColumn("cum_orders", F.sum("n_orders").over(wcum))
        .join(F.broadcast(totals))
        .select(
            "basket_size",
            "n_orders",
            pround(F.col("n_orders") / F.col("tot_orders"), 6).alias(
                "order_share"
            ),
            pround(F.col("cum_orders") / F.col("tot_orders"), 6).alias(
                "cum_order_share"
            ),
            pround(F.col("rev_cents") / F.col("tot_cents"), 6).alias(
                "revenue_share"
            ),
        )
        .orderBy("basket_size")
    )


ORACLE_ORDERS_BASKET_SIZE_HISTOGRAM = """
WITH per_order AS (
  SELECT l_orderkey, count(*) AS basket_size,
         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM lineitem GROUP BY 1
),
cells AS (
  SELECT basket_size, count(*) AS n_orders, sum(cents) AS rev_cents
  FROM per_order GROUP BY 1
),
totals AS (
  SELECT sum(n_orders) AS tot_orders, sum(rev_cents) AS tot_cents FROM cells
),
cum AS (
  SELECT basket_size, n_orders, rev_cents,
         sum(n_orders) OVER (ORDER BY basket_size
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_orders
  FROM cells
)
SELECT c.basket_size, c.n_orders,
       floor((CAST(c.n_orders AS DOUBLE) / t.tot_orders) * 1000000 + 0.5)
         / 1000000.0 AS order_share,
       floor((CAST(c.cum_orders AS DOUBLE) / t.tot_orders) * 1000000 + 0.5)
         / 1000000.0 AS cum_order_share,
       floor((CAST(c.rev_cents AS DOUBLE) / t.tot_cents) * 1000000 + 0.5)
         / 1000000.0 AS revenue_share
FROM cum c CROSS JOIN totals t
ORDER BY c.basket_size
"""

QUERIES["orders_basket_size_histogram"] = orders_basket_size_histogram
ORACLE["orders_basket_size_histogram"] = ORACLE_ORDERS_BASKET_SIZE_HISTOGRAM


# ---------------------------------------------------------------------------
# Cross-language vocabulary overlap (top-K Jaccard)
# ---------------------------------------------------------------------------

#: Per-language profile size for the overlap matrix.
_VOCAB_JACCARD_K = 64


def text_vocab_jaccard_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise language-vocabulary overlap: Jaccard similarity of the
    top-K token profiles of every language pair — high overlap between
    labeled languages flags either shared boilerplate or mislabeled
    corpora (and calibrates how separable a langid model can be).

    Exactness: profile membership is a deterministic per-language
    (count desc, token asc) row_number cutoff; intersection counts are
    exact integers; each Jaccard is ONE division of exact integers
    (|A∩B| / (|A| + |B| − |A∩B|)), 6-dp rounded.  The tokenizer uses
    the explicit ``WS_CLASS`` whitespace class (round 16): Java's
    ``\\s`` matches vertical tab while RE2's does not, so a ``\\s+``
    split could diverge on a \\x0B-bearing corpus.

    Shape: one token hash aggregate per (lang, tok); profiles are
    langs×K rows (bounded); the pair matrix is a profile self-join on
    token over that bounded relation — never touches the corpus again.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(F.split(F.trim(F.col("text")), WS_CLASS)).alias("tok"),
    ).where(F.col("tok") != "")
    freq = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("tok"))
    prof = (
        freq.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _VOCAB_JACCARD_K)
        .select("lang", "tok")
    )
    sizes = prof.groupBy("lang").agg(F.count(F.lit(1)).alias("k"))
    a = prof.select(F.col("lang").alias("lang_a"), "tok")
    b = prof.select(F.col("lang").alias("lang_b"), F.col("tok").alias("tokb"))
    inter = (
        a.join(b, (F.col("tok") == F.col("tokb")) )
        .where(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("k").alias("ka"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("k").alias("kb"))
    pairs = (
        sa.join(sb, F.col("lang_a") < F.col("lang_b"))
        .join(inter, ["lang_a", "lang_b"], "left")
        .select(
            "lang_a",
            "lang_b",
            F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
            pround(
                F.coalesce("n_inter", F.lit(0))
                / (
                    F.col("ka") + F.col("kb") - F.coalesce("n_inter", F.lit(0))
                ),
                6,
            ).alias("jaccard"),
        )
    )
    return pairs.orderBy("lang_a", "lang_b")


ORACLE_TEXT_VOCAB_JACCARD_BY_LANG = f"""
WITH toks AS (
  SELECT lang, unnest(string_split_regex(trim(text), '{WS_CLASS}')) AS tok
  FROM documents
),
freq AS (
  SELECT lang, tok, count(*) AS cnt FROM toks WHERE tok <> ''
  GROUP BY 1, 2
),
prof AS (
  SELECT lang, tok FROM (
    SELECT lang, tok,
           row_number() OVER (PARTITION BY lang
                              ORDER BY cnt DESC, tok ASC) AS rk
    FROM freq
  ) WHERE rk <= {_VOCAB_JACCARD_K}
),
sizes AS (SELECT lang, count(*) AS k FROM prof GROUP BY 1),
inter AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS n_inter
  FROM prof a JOIN prof b ON a.tok = b.tok AND a.lang < b.lang
  GROUP BY 1, 2
)
SELECT sa.lang AS lang_a, sb.lang AS lang_b,
       CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
       floor((CAST(coalesce(i.n_inter, 0) AS DOUBLE)
              / (sa.k + sb.k - coalesce(i.n_inter, 0))) * 1000000 + 0.5)
         / 1000000.0 AS jaccard
FROM sizes sa
JOIN sizes sb ON sa.lang < sb.lang
LEFT JOIN inter i ON i.lang_a = sa.lang AND i.lang_b = sb.lang
ORDER BY lang_a, lang_b
"""

QUERIES["text_vocab_jaccard_by_lang"] = text_vocab_jaccard_by_lang
ORACLE["text_vocab_jaccard_by_lang"] = ORACLE_TEXT_VOCAB_JACCARD_BY_LANG


# ---------------------------------------------------------------------------
# Customer spend-band migration matrix
# ---------------------------------------------------------------------------

#: Period split for the migration matrix (orders strictly before this
#: date are "period 1"; at/after are "period 2").
_MIGRATION_SPLIT = "1996-01-01"
#: Fixed spend-band edges in integer cents (scale-free log-ish bands,
#: so the matrix needs no data-driven quantiles — deterministic at any
#: corpus size and identical in both engines).
_MIGRATION_BANDS = (1_000_00, 10_000_00, 100_000_00)


def _band_case_spark(col: str):
    c = F.col(col)
    lo, mid, hi = _MIGRATION_BANDS
    return (
        F.when(c < lo, F.lit("S"))
        .when(c < mid, F.lit("M"))
        .when(c < hi, F.lit("L"))
        .otherwise(F.lit("XL"))
    )


def _band_case_sql(col: str) -> str:
    lo, mid, hi = _MIGRATION_BANDS
    return (
        f"CASE WHEN {col} < {lo} THEN 'S' WHEN {col} < {mid} THEN 'M' "
        f"WHEN {col} < {hi} THEN 'L' ELSE 'XL' END"
    )


def orders_customer_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend-band migration matrix: each customer's total
    spend in two fixed periods is bucketed into fixed bands
    (S/M/L/XL), and the band→band transition counts are reported for
    customers active in BOTH periods — the up-/down-grade flow behind
    every "customer movement" BI slide.  Fixed band edges (not
    data-driven tertiles) keep the matrix deterministic and
    comparable across corpus sizes.

    Exactness: spend is exact integer cents; band routing is integer
    comparisons; cell counts and shares are exact integers and single
    divisions.

    Shape: one order scan → (customer, period) hash aggregate, a
    customer-grain self-pivot (both sides customer-keyed, one
    shuffle), a ≤ 16-cell rollup + 1-row total broadcast.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        (
            F.col("o_orderdate")
            < F.lit(_MIGRATION_SPLIT).cast("timestamp_ntz")
        ).alias("p1"),
    )
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.when(F.col("p1"), F.col("cents")).otherwise(0)).alias(
            "cents1"
        ),
        F.sum(F.when(~F.col("p1"), F.col("cents")).otherwise(0)).alias(
            "cents2"
        ),
        F.max(F.when(F.col("p1"), 1).otherwise(0)).alias("a1"),
        F.max(F.when(~F.col("p1"), 1).otherwise(0)).alias("a2"),
    )
    both = spend.where((F.col("a1") == 1) & (F.col("a2") == 1)).select(
        _band_case_spark("cents1").alias("band_from"),
        _band_case_spark("cents2").alias("band_to"),
    )
    cells = both.groupBy("band_from", "band_to").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    totals = cells.agg(F.sum("n_customers").alias("total"))
    return (
        cells.join(F.broadcast(totals))
        .select(
            "band_from",
            "band_to",
            "n_customers",
            pround(F.col("n_customers") / F.col("total"), 6).alias("share"),
        )
        .orderBy("band_from", "band_to")
    )


ORACLE_ORDERS_CUSTOMER_MIGRATION = f"""
WITH spend AS (
  SELECT o_custkey,
         sum(CASE WHEN o_orderdate < TIMESTAMP '{_MIGRATION_SPLIT}'
                  THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                  ELSE 0 END) AS cents1,
         sum(CASE WHEN o_orderdate >= TIMESTAMP '{_MIGRATION_SPLIT}'
                  THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                  ELSE 0 END) AS cents2,
         max(CASE WHEN o_orderdate < TIMESTAMP '{_MIGRATION_SPLIT}'
                  THEN 1 ELSE 0 END) AS a1,
         max(CASE WHEN o_orderdate >= TIMESTAMP '{_MIGRATION_SPLIT}'
                  THEN 1 ELSE 0 END) AS a2
  FROM orders GROUP BY 1
),
both_p AS (
  SELECT {_band_case_sql("cents1")} AS band_from,
         {_band_case_sql("cents2")} AS band_to
  FROM spend WHERE a1 = 1 AND a2 = 1
),
cells AS (
  SELECT band_from, band_to, count(*) AS n_customers
  FROM both_p GROUP BY 1, 2
),
totals AS (SELECT sum(n_customers) AS total FROM cells)
SELECT c.band_from, c.band_to, c.n_customers,
       floor((CAST(c.n_customers AS DOUBLE) / t.total) * 1000000 + 0.5)
         / 1000000.0 AS share
FROM cells c CROSS JOIN totals t
ORDER BY c.band_from, c.band_to
"""

QUERIES["orders_customer_migration"] = orders_customer_migration
ORACLE["orders_customer_migration"] = ORACLE_ORDERS_CUSTOMER_MIGRATION


# ---------------------------------------------------------------------------
# Seasonality-adjusted anomaly days (residual vs dow baseline)
# ---------------------------------------------------------------------------


def events_seasonal_residual_anomaly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonality-ADJUSTED anomaly detection: a day is anomalous for
    an event type when its count exceeds 2× that type's same-weekday
    baseline mean — the correction the plain z-score/MAD alarms lack
    (a normal Monday peak looks like an outlier against an all-days
    baseline; against the Monday baseline it is quiet).

    Exactness: daily counts are exact integers; dow is pure epoch-day
    integer arithmetic (pmod / double-mod, the pack convention); the
    2× test cross-multiplies exact integers (c·n_cell > 2·s_cell — no
    division in the predicate); the reported max ratio is ONE double
    expression of exact integers, 6-dp rounded.

    Shape: one (type, day) hash aggregate, one (type, dow) cell
    aggregate, a cells⋈days equi join on bounded keys, one type
    rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    daily = (
        ev.select("event_type", day.alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("dow", F.pmod(F.col("day") + 4, F.lit(7)))
    )
    cells = daily.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("ncell"), F.sum("c").alias("scell")
    )
    joined = daily.join(cells, ["event_type", "dow"])
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(
                F.when(
                    F.col("c") * F.col("ncell") > 2 * F.col("scell"), 1
                ).otherwise(0)
            ).alias("n_anomalies"),
            pround(
                F.max(
                    (F.col("c") * F.col("ncell")).cast("double")
                    / F.col("scell")
                ),
                6,
            ).alias("max_dow_ratio"),
        )
        .orderBy("event_type")
    )


ORACLE_EVENTS_SEASONAL_RESIDUAL_ANOMALY = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         count(*) AS c
  FROM events GROUP BY 1, 2
),
dowd AS (
  SELECT event_type, day, c,
         (((day + 4) % 7) + 7) % 7 AS dow
  FROM daily
),
cells AS (
  SELECT event_type, dow, count(*) AS ncell, sum(c) AS scell
  FROM dowd GROUP BY 1, 2
)
SELECT d.event_type,
       count(*) AS n_days,
       CAST(sum(CASE WHEN d.c * x.ncell > 2 * x.scell THEN 1 ELSE 0 END)
            AS BIGINT) AS n_anomalies,
       floor(max(CAST(d.c * x.ncell AS DOUBLE) / x.scell) * 1000000 + 0.5)
         / 1000000.0 AS max_dow_ratio
FROM dowd d JOIN cells x ON d.event_type = x.event_type AND d.dow = x.dow
GROUP BY 1
ORDER BY 1
"""

QUERIES["events_seasonal_residual_anomaly"] = events_seasonal_residual_anomaly
ORACLE["events_seasonal_residual_anomaly"] = (
    ORACLE_EVENTS_SEASONAL_RESIDUAL_ANOMALY
)


# ---------------------------------------------------------------------------
# Part-size price curve (monotonicity check on bounded size bands)
# ---------------------------------------------------------------------------


def part_size_price_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog price curve across part-size bands (p_size div 10):
    per band, the part count and mean retail price, plus whether the
    band's mean DROPPED vs the previous band — the monotonicity sanity
    check behind size-based pricing ("bigger should not be cheaper"
    catalog audits).

    Exactness: prices are exact integer cents; the mean is one
    division; the drop test cross-multiplies exact integer sums
    (s_prev·n_cur > s_cur·n_prev), so no division enters the
    predicate; the first band reports null.

    Shape: one part scan → bounded band cells (≤ 6 rows), one lag
    window over the cell relation only.
    """
    part = load_table(spark, sf_dir, "part").select(
        (F.col("p_size").cast("long") / 10).cast("long").alias("size_band"),
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    cells = part.groupBy("size_band").agg(
        F.count(F.lit(1)).alias("n_parts"), F.sum("cents").alias("s")
    )
    w = Window.orderBy("size_band")
    lagged = cells.withColumn("pn", F.lag("n_parts").over(w)).withColumn(
        "ps", F.lag("s").over(w)
    )
    return lagged.select(
        "size_band",
        "n_parts",
        pround(F.col("s") / F.col("n_parts") / 100.0, 2).alias(
            "mean_price"
        ),
        F.when(
            F.col("pn").isNotNull(),
            F.col("ps") * F.col("n_parts") > F.col("s") * F.col("pn"),
        ).alias("dropped_vs_prev"),
    ).orderBy("size_band")


ORACLE_PART_SIZE_PRICE_CURVE = """
WITH cells AS (
  SELECT CAST(p_size // 10 AS BIGINT) AS size_band,
         count(*) AS n_parts,
         sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS s
  FROM part GROUP BY 1
),
lagged AS (
  SELECT size_band, n_parts, s,
         lag(n_parts) OVER (ORDER BY size_band) AS pn,
         lag(s) OVER (ORDER BY size_band) AS ps
  FROM cells
)
SELECT size_band, n_parts,
       floor((CAST(s AS DOUBLE) / n_parts / 100.0) * 100 + 0.5) / 100.0
         AS mean_price,
       CASE WHEN pn IS NOT NULL THEN ps * n_parts > s * pn END
         AS dropped_vs_prev
FROM lagged
ORDER BY size_band
"""

QUERIES["part_size_price_curve"] = part_size_price_curve
ORACLE["part_size_price_curve"] = ORACLE_PART_SIZE_PRICE_CURVE


# ---------------------------------------------------------------------------
# Embedding centroid shift between dataset halves (version drift)
# ---------------------------------------------------------------------------


def embedding_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift between two dataset versions: splitting the
    corpus into deterministic halves (vec_id parity — the stand-in for
    v1/v2 snapshots), the per-label distance between the halves'
    centroids — the regression alarm that fires when a re-embedding
    run or upstream data shift silently moves a class.

    Exactness: components quantize to exact 1e-6-unit integers; the
    per-dimension centroid difference is an exact integer cross
    product ((S_a·n_b − S_b·n_a)) descaled once; the 64 squared terms
    fold in DIMENSION order via the pack's sorted-collect sequential
    fold, so no engine picks its own summation order; one sqrt at the
    end.

    Shape: one posexplode → (label, half, dim) cells (k·2·d rows);
    everything downstream runs on bounded cell relations.

    The half split is ``pmod(vec_id, 2)`` on BOTH engines (self-review
    r17): Spark's ``F.pmod`` is mirrored by ``((vec_id % 2) + 2) % 2``
    in the oracle — DuckDB's bare ``%`` follows the dividend's sign,
    so a negative vec_id would land in half −1 there and silently drop
    from the half-0/half-1 join while Spark kept it (the same sign
    hole the r17 ``_pair_blocks`` repair closed, but cross-engine).
    Driver ids are non-negative, so corpus results are unchanged;
    pinned by a negative-id differential test.
    """
    emb = scan_parallel(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    vd = emb.select(
        "label",
        F.pmod(F.col("vec_id"), F.lit(2)).alias("half"),
        F.posexplode("emb").alias("dim", "v"),
    ).select(
        "label",
        "half",
        "dim",
        F.floor(F.col("v") * 1000000 + F.lit(0.5)).cast("long").alias("v6"),
    )
    cents = vd.groupBy("label", "half", "dim").agg(
        F.sum("v6").alias("s"), F.count(F.lit(1)).alias("n")
    )
    a = cents.where(F.col("half") == 0).select(
        "label", "dim", F.col("s").alias("sa"), F.col("n").alias("na")
    )
    b = cents.where(F.col("half") == 1).select(
        F.col("label").alias("lb"),
        F.col("dim").alias("dimb"),
        F.col("s").alias("sb"),
        F.col("n").alias("nb"),
    )
    terms = a.join(
        b, (F.col("label") == F.col("lb")) & (F.col("dim") == F.col("dimb"))
    ).select(
        "label",
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
    folded = (
        terms.groupBy("label")
        .agg(
            F.max("na").alias("n_v1"),
            F.max("nb").alias("n_v2"),
            F.array_sort(F.collect_list(F.struct("dim", "diff"))).alias(
                "pairs"
            ),
        )
        .select(
            "label",
            "n_v1",
            "n_v2",
            F.aggregate(
                "pairs", F.lit(0.0), lambda acc, p: acc + p["diff"] * p["diff"]
            ).alias("d2"),
        )
    )
    return folded.select(
        "label",
        "n_v1",
        "n_v2",
        pround(F.sqrt(F.col("d2")), 6).alias("centroid_shift"),
    ).orderBy("label")


ORACLE_EMBEDDING_CENTROID_SHIFT = """
WITH vd AS (
  SELECT label, ((vec_id % 2) + 2) % 2 AS half,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS v6
  FROM embeddings
),
cents AS (
  SELECT label, half, dim, sum(v6) AS s, count(*) AS n
  FROM vd GROUP BY 1, 2, 3
),
terms AS (
  SELECT a.label, a.dim, a.n AS na, b.n AS nb,
         CAST(a.s * b.n - b.s * a.n AS DOUBLE)
           / (a.n * b.n * 1000000.0) AS diff
  FROM cents a JOIN cents b
    ON a.label = b.label AND a.dim = b.dim
   AND a.half = 0 AND b.half = 1
),
folded AS (
  SELECT label, max(na) AS n_v1, max(nb) AS n_v2,
         list_reduce(list_prepend(0.0, list(diff * diff ORDER BY dim)),
                     (acc, x) -> acc + x) AS d2
  FROM terms GROUP BY 1
)
SELECT label, n_v1, n_v2,
       floor(sqrt(d2) * 1000000 + 0.5) / 1000000.0 AS centroid_shift
FROM folded
ORDER BY label
"""

QUERIES["embedding_centroid_shift"] = embedding_centroid_shift
ORACLE["embedding_centroid_shift"] = ORACLE_EMBEDDING_CENTROID_SHIFT


# ---------------------------------------------------------------------------
# Doc-length vs embedding-norm correlation (cross-table hygiene audit)
# ---------------------------------------------------------------------------


def embedding_norm_length_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pearson correlation between document length and embedding norm
    over the documents⋈embeddings key (doc_id = vec_id) — the
    hygiene audit for un-normalized embedding exports: a strong
    length–norm correlation means cosine thresholds silently encode
    document length, poisoning dedup and retrieval calibration.

    Exactness: components quantize to exact 1e-6-unit integers, so
    the per-vector squared norm is an exact integer; the norm is
    floor(sqrt) of that integer (IEEE sqrt of the same exact integer
    — identical in both engines); all five Pearson co-moments are
    exact integer sums (y² products ride decimal(38,0) — Σy² tops
    int64 beyond ~1e5 vectors); the correlation is ONE double
    expression, 6-dp rounded.

    Shape: one posexplode → per-vector integer aggregate, one
    id-keyed equi join to documents, one 1-row co-moment rollup.
    """
    emb = scan_parallel(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    sumsq = (
        emb.select("vec_id", F.posexplode("emb").alias("dim", "v"))
        .select(
            "vec_id",
            F.floor(F.col("v") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("v6"),
        )
        .groupBy("vec_id")
        .agg(F.sum(F.col("v6") * F.col("v6")).alias("ss"))
        .select(
            "vec_id",
            F.floor(F.sqrt(F.col("ss").cast("double")))
            .cast("long")
            .alias("norm6"),
        )
    )
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), F.col("n_chars").alias("x")
    )
    xy = docs.join(sumsq, "vec_id").select("x", F.col("norm6").alias("y"))
    dec = "decimal(38,0)"
    m = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
    )
    return m.select(
        "n",
        pround(
            (
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                    "double"
                )
            )
            / (
                F.sqrt(
                    (
                        F.col("n") * F.col("sxx")
                        - F.col("sx") * F.col("sx")
                    ).cast("double")
                )
                * F.sqrt(
                    (
                        F.col("n") * F.col("syy")
                        - F.col("sy") * F.col("sy")
                    ).cast("double")
                )
            ),
            6,
        ).alias("len_norm_corr"),
    )


ORACLE_EMBEDDING_NORM_LENGTH_CORRELATION = """
WITH q AS (
  SELECT vec_id,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS v6
  FROM embeddings
),
norms AS (
  SELECT vec_id,
         CAST(floor(sqrt(CAST(sum(v6 * v6) AS DOUBLE))) AS BIGINT) AS y
  FROM q GROUP BY 1
),
xy AS (
  SELECT d.n_chars AS x, n.y
  FROM documents d JOIN norms n ON d.doc_id = n.vec_id
),
m AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM xy
)
SELECT n,
       floor((CAST(n * sxy - sx * sy AS DOUBLE)
              / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                 * sqrt(CAST(n * syy - sy * sy AS DOUBLE))))
             * 1000000 + 0.5) / 1000000.0 AS len_norm_corr
FROM m
"""

QUERIES["embedding_norm_length_correlation"] = embedding_norm_length_correlation
ORACLE["embedding_norm_length_correlation"] = (
    ORACLE_EMBEDDING_NORM_LENGTH_CORRELATION
)


# ---------------------------------------------------------------------------
# Bot-user detection heuristic
# ---------------------------------------------------------------------------

#: Rate flag: more than this many events per active day reads as
#: automation (cross-multiplied, never divided).
_BOT_RATE_PER_DAY = 20
#: Monotony flag: one event type carrying more than half a user's
#: stream reads as scripted behaviour.
_BOT_MONOTONY_NUM, _BOT_MONOTONY_DEN = 1, 2


def events_bot_detection_heuristic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bot-user detection for training-data hygiene: flag users whose
    event RATE (events per active day) or MONOTONY (single type share
    of their stream) exceeds scripted-behaviour thresholds, and report
    the corpus-level flag census — the pre-filter that keeps
    automation artifacts out of behavioural training corpora.

    Exactness: both flags are cross-multiplied exact-integer
    predicates (n > RATE·days; 2·max_type > n), so no division enters
    a decision; the only divisions are the reported shares, each ONE
    division of exact integers, 6-dp rounded.

    Shape: one (user, type) hash aggregate, one user rollup (max over
    bounded type cells + distinct-day count), one 1-row census.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    per_type = (
        ev.select("user_id", "event_type")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # distinct days per user count over ALL types: a second agg on the
    # raw grain, same user_id shuffle key.
    days = (
        ev.select("user_id", day.alias("day"))
        .groupBy("user_id")
        .agg(F.countDistinct("day").alias("active_days"))
    )
    per_user = (
        per_type.groupBy("user_id")
        .agg(F.sum("c").alias("n"), F.max("c").alias("max_type"))
        .join(days, "user_id")
        .select(
            "user_id",
            (F.col("n") > F.lit(_BOT_RATE_PER_DAY) * F.col("active_days"))
            .alias("rate_flag"),
            (
                F.lit(_BOT_MONOTONY_DEN) * F.col("max_type")
                > F.lit(_BOT_MONOTONY_NUM) * F.col("n")
            ).alias("monotony_flag"),
        )
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("rate_flag"), 1).otherwise(0)).alias(
            "n_rate_flagged"
        ),
        F.sum(F.when(F.col("monotony_flag"), 1).otherwise(0)).alias(
            "n_monotony_flagged"
        ),
        F.sum(
            F.when(F.col("rate_flag") & F.col("monotony_flag"), 1).otherwise(
                0
            )
        ).alias("n_both"),
        pround(
            F.sum(
                F.when(F.col("rate_flag") | F.col("monotony_flag"), 1)
                .otherwise(0)
            )
            / F.count(F.lit(1)),
            6,
        ).alias("flagged_share"),
    )


ORACLE_EVENTS_BOT_DETECTION_HEURISTIC = f"""
WITH per_type AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY 1, 2
),
days AS (
  SELECT user_id,
         count(DISTINCT epoch_us(ts) // 86400000000) AS active_days
  FROM events GROUP BY 1
),
per_user AS (
  SELECT t.user_id,
         sum(t.c) > {_BOT_RATE_PER_DAY} * max(d.active_days) AS rate_flag,
         {_BOT_MONOTONY_DEN} * max(t.c)
           > {_BOT_MONOTONY_NUM} * sum(t.c) AS monotony_flag
  FROM per_type t JOIN days d ON t.user_id = d.user_id
  GROUP BY 1
)
SELECT count(*) AS n_users,
       CAST(sum(CASE WHEN rate_flag THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rate_flagged,
       CAST(sum(CASE WHEN monotony_flag THEN 1 ELSE 0 END) AS BIGINT)
         AS n_monotony_flagged,
       CAST(sum(CASE WHEN rate_flag AND monotony_flag THEN 1 ELSE 0 END)
            AS BIGINT) AS n_both,
       floor((CAST(sum(CASE WHEN rate_flag OR monotony_flag
                            THEN 1 ELSE 0 END) AS DOUBLE) / count(*))
             * 1000000 + 0.5) / 1000000.0 AS flagged_share
FROM per_user
"""

QUERIES["events_bot_detection_heuristic"] = events_bot_detection_heuristic
ORACLE["events_bot_detection_heuristic"] = ORACLE_EVENTS_BOT_DETECTION_HEURISTIC


# ---------------------------------------------------------------------------
# Exact-duplicate embedding audit
# ---------------------------------------------------------------------------


def embedding_duplicate_vector_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-duplicate EMBEDDING detection: fingerprint each vector's
    quantized components and census identical vectors attached to
    different ids — the embedding-pipeline bug detector (a stuck
    encoder, a default-vector fallback, or an upstream join fanout all
    manifest as one vector serving many documents, which silently
    collapses ANN neighbourhoods and poisons SemDeDup).

    Exactness: components quantize to exact 1e-6-unit integers; the
    fingerprint is md5 over the identical comma-joined decimal string
    in both engines; counts exact; the share is one division.

    Shape: one map-side fingerprint expression, one fingerprint hash
    aggregate, a 1-row census — linear, no joins.
    """
    emb = scan_parallel(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id",
        F.md5(
            F.expr(
                "concat_ws(',', transform(cast(embedding as array<double>), "
                "v -> cast(floor(v * 1000000 + 0.5) as bigint)))"
            )
        ).alias("fp"),
    )
    groups = emb.groupBy("fp").agg(F.count(F.lit(1)).alias("gsize"))
    return groups.agg(
        F.sum("gsize").alias("n_vectors"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.when(F.col("gsize") > 1, 1).otherwise(0)).alias(
            "n_dup_groups"
        ),
        F.sum(
            F.when(F.col("gsize") > 1, F.col("gsize")).otherwise(0)
        ).alias("n_dup_vectors"),
        F.max("gsize").alias("max_group"),
        pround(
            F.sum(F.when(F.col("gsize") > 1, F.col("gsize")).otherwise(0))
            / F.sum("gsize"),
            6,
        ).alias("dup_share"),
    )


ORACLE_EMBEDDING_DUPLICATE_VECTOR_AUDIT = """
WITH fp AS (
  SELECT vec_id,
         md5(array_to_string(
           list_transform(embedding,
             v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)),
           ',')) AS fp
  FROM embeddings
),
groups AS (SELECT fp.fp, count(*) AS gsize FROM fp GROUP BY 1)
SELECT CAST(sum(gsize) AS BIGINT) AS n_vectors,
       count(*) AS n_distinct,
       CAST(sum(CASE WHEN gsize > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_groups,
       CAST(sum(CASE WHEN gsize > 1 THEN gsize ELSE 0 END) AS BIGINT)
         AS n_dup_vectors,
       CAST(max(gsize) AS BIGINT) AS max_group,
       floor((CAST(sum(CASE WHEN gsize > 1 THEN gsize ELSE 0 END) AS DOUBLE)
              / sum(gsize)) * 1000000 + 0.5) / 1000000.0 AS dup_share
FROM groups
"""

QUERIES["embedding_duplicate_vector_audit"] = embedding_duplicate_vector_audit
ORACLE["embedding_duplicate_vector_audit"] = (
    ORACLE_EMBEDDING_DUPLICATE_VECTOR_AUDIT
)


# ---------------------------------------------------------------------------
# Quota sampling per source (cap, don't equalize)
# ---------------------------------------------------------------------------

#: Per-source document quota.
_QUOTA_PER_SOURCE = 8


def sample_quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota sampling: CAP each source at a fixed document quota,
    keeping a deterministic hash-ranked subset — the third sampling
    flavour next to proportional (stratified) and equal-per-class
    (balanced): sources under quota keep everything, oversampled
    crawl dumps are truncated, and the result is reproducible with no
    RNG.

    Exactness: the keep set is a per-source row_number over the
    (md5(doc_id), doc_id) order — md5 hex strings sort identically in
    both engines; counts exact; the kept share is one division.

    Shape: one source-keyed rank window (partition-parallel), one
    source rollup; at 100× the window state per source is one counter.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    ranked = docs.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("rk") <= _QUOTA_PER_SOURCE, 1).otherwise(0)
            ).alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            (F.col("n_docs") - F.col("n_kept")).alias("n_dropped"),
            pround(F.col("n_kept") / F.col("n_docs"), 6).alias("kept_share"),
        )
        .orderBy("source")
    )


ORACLE_SAMPLE_QUOTA_PER_SOURCE = f"""
WITH ranked AS (
  SELECT source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN rk <= {_QUOTA_PER_SOURCE} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(count(*) - sum(CASE WHEN rk <= {_QUOTA_PER_SOURCE}
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       floor((CAST(sum(CASE WHEN rk <= {_QUOTA_PER_SOURCE} THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000.0
         AS kept_share
FROM ranked
GROUP BY source
ORDER BY source
"""

QUERIES["sample_quota_per_source"] = sample_quota_per_source
ORACLE["sample_quota_per_source"] = ORACLE_SAMPLE_QUOTA_PER_SOURCE
