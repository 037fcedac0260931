"""Oracle differential + property tests for the FIFTH staged operator
pack (operators/staged5.py) — the same local gate the first four
staged packs passed before registration.  Built in round 11, held by
the pack-growth gate, REGISTERED in round 12: the staging guard below
is inverted to ``test_staged5_keys_registered`` per the drill.
"""

from __future__ import annotations

import pytest

from parquet_stream_writer_spark.operators import staged5

from tests.conftest import assert_results_match


@pytest.mark.parametrize("name", sorted(staged5.QUERIES))
def test_staged5_query_matches_oracle(name, spark, sf_dir, oracle_con):
    df = staged5.QUERIES[name](spark, sf_dir)
    assert name in staged5.ORACLE
    assert_results_match(df, oracle_con, staged5.ORACLE[name])


def test_staged5_keys_registered():
    """Round-12 inversion of the staging assertion: all 10 staged5
    keys (and their oracles) are now IN the driver registry — the
    pack-growth gate cleared with CORRECTNESS_r11 (rotation tail gone,
    bench projection ~204 s vs the 237 s driver-observed window)."""
    from parquet_stream_writer_spark.operators import all_oracles, all_queries

    live = all_queries()
    assert set(staged5.QUERIES) <= set(live)
    assert set(staged5.ORACLE) <= set(all_oracles())


def test_staged5_every_key_has_an_oracle():
    assert set(staged5.QUERIES) == set(staged5.ORACLE)


@pytest.mark.parametrize("name", sorted(staged5.QUERIES))
def test_staged5_query_survives_empty_corpus(name, spark, empty_sf):
    """The FULL staged5 pack against a schema-exact zero-row corpus:
    no ANSI DIVIDE_BY_ZERO, no null-handling crash."""
    df = staged5.QUERIES[name](spark, empty_sf)
    assert df.count() >= 0  # materializes the plan; raises on ANSI errors


@pytest.fixture(scope="module")
def empty_oracle_con(empty_sf):
    import duckdb

    from parquet_stream_writer_spark.sources import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{empty_sf}/{t}.parquet/*.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(staged5.QUERIES))
def test_staged5_empty_corpus_oracle_differential(
    name, spark, empty_sf, empty_oracle_con
):
    """Empty-input PARITY (the staged4 convention, ADVICE r9): a fork
    where Spark emits 0 rows while the oracle's ungrouped CTE emits 1
    must FAIL, not just crash."""
    spark_rows = staged5.QUERIES[name](spark, empty_sf).count()
    oracle_rows = len(empty_oracle_con.sql(staged5.ORACLE[name]).df())
    assert spark_rows == oracle_rows, (
        f"empty-corpus parity fork: spark={spark_rows} oracle={oracle_rows}"
    )


#: Staged5 queries whose plans legitimately contain a
#: BroadcastNestedLoopJoin — all O(1)–O(k)-row scalar/grid broadcasts
#: (the registered pack's _NLJ_OK convention).  Fold into _NLJ_OK at
#: registration.
_STAGED5_NLJ_OK = {
    "similarity_threshold_calibration",  # ≤6-row band × 5-row grid join
    "sample_pps_systematic",  # |langs| × k bounded grid build
    "sample_temporal_embargo_split",  # 1-row min-day broadcast
}


def test_staged5_pack_plan_sweep(spark, sf_dir):
    """The registered pack's plan sweep, applied BEFORE registration:
    no SortAggregate, no unexpected nested-loop join, no cartesian
    product anywhere in the staged5 pack."""
    from parquet_stream_writer_spark.plans import summarize

    offenders = {}
    for name, fn in sorted(staged5.QUERIES.items()):
        s = summarize(fn(spark, sf_dir))
        if s.nodes.get("SortAggregate"):
            offenders.setdefault(name, []).append("SortAggregate")
        if s.nodes.get("BroadcastNestedLoopJoin") and name not in _STAGED5_NLJ_OK:
            offenders.setdefault(name, []).append("BroadcastNestedLoopJoin")
        if s.nodes.get("CartesianProduct"):
            offenders.setdefault(name, []).append("CartesianProduct")
    assert not offenders, offenders


# ---------------------------------------------------------------------------
# Property pins (semantics the oracle differential can't state)
# ---------------------------------------------------------------------------


def _n_embeddings(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    )


def _n_eligible(spark, sf_dir):
    """Vectors the pair miners can score (the operators' own domain:
    non-null, _KNN_DIM wide, no NULL elements, nonzero norm) —
    asserting against the RAW count would fail on a correct exclusion
    (review r11)."""
    return staged5._eligible_emb(spark, sf_dir).count()


def _n_knn_domain(spark, sf_dir):
    """The directed-kNN relation's own domain: eligible AND labeled
    (the round-12 ADVICE closure pinned unlabeled vectors out of the
    graph in both engines)."""
    from pyspark.sql import functions as F

    return (
        staged5._eligible_emb(spark, sf_dir)
        .where(F.col("label").isNotNull())
        .count()
    )


def test_knn_label_audit_partitions_the_corpus(spark, sf_dir):
    """Every vector in the kNN domain (eligible + labeled) is
    classified exactly once, and accuracy is a valid share."""
    rows = staged5.embedding_knn_label_audit(spark, sf_dir).collect()
    assert sum(r.n_vecs for r in rows) == _n_knn_domain(spark, sf_dir)
    for r in rows:
        assert 0 <= r.n_correct <= r.n_vecs
        assert 0.0 <= r.accuracy <= 1.0


def test_hubness_degrees_account_for_every_edge_and_vector(spark, sf_dir):
    """The in-degree histogram must cover every vector once (out-of-
    domain vectors re-admitted at degree 0) and count exactly
    n_domain·k directed edges whenever each in-domain query has ≥ k
    in-domain candidates."""
    from parquet_stream_writer_spark.operators.staged5 import _KNN_K

    rows = staged5.embedding_hubness_audit(spark, sf_dir).collect()
    assert sum(r.n_vecs for r in rows) == _n_embeddings(spark, sf_dir)
    n_dom = _n_knn_domain(spark, sf_dir)
    if n_dom > _KNN_K:
        assert sum(r.in_degree * r.n_vecs for r in rows) == n_dom * _KNN_K


def test_binarization_cosine_bounds(spark, sf_dir):
    """Σ|v| / √(d·Σv²) is bounded by [1/√d, 1] (Cauchy–Schwarz both
    ways) — a value outside means the integer quantization broke."""
    rows = staged5.embedding_binarization_distortion(spark, sf_dir).collect()
    assert rows, "non-degenerate corpus expected"
    for r in rows:
        assert 1.0 / 8.0 - 1e-6 <= r.min_cos_binary <= r.mean_cos_binary
        assert r.mean_cos_binary <= r.max_cos_binary <= 1.0 + 1e-6


def test_centroid_margin_nonnegative_and_total(spark, sf_dir):
    """Margins are second-minus-first distances (≥ 0 by construction)
    and every in-domain vector (64-dim, no NULL elements — the
    round-12 ADVICE closure) is assigned to exactly one centroid."""
    from pyspark.sql import functions as F

    rows = staged5.embedding_centroid_margin(spark, sf_dir).collect()
    n64 = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where(
            (F.size("embedding") == 64)
            & ~F.exists("embedding", lambda x: x.isNull())
        )
        .count()
    )
    assert sum(r.n_vecs for r in rows) == n64
    for r in rows:
        assert r.mean_d2_near >= 0.0
        assert r.mean_margin >= 0.0


def test_threshold_calibration_is_monotone(spark, sf_dir):
    """Raising the cut can only shrink the kept-pair set; precision's
    numerator is a subset of its denominator."""
    rows = (
        staged5.similarity_threshold_calibration(spark, sf_dir)
        .orderBy("threshold")
        .collect()
    )
    assert [r.threshold for r in rows] == sorted(
        staged5._CAL_THRESHOLDS
    )
    for a, b in zip(rows, rows[1:]):
        assert a.n_pairs >= b.n_pairs
        assert a.n_same_label >= b.n_same_label
    for r in rows:
        assert r.n_same_label <= r.n_pairs


def test_bucket_occupancy_accounts_for_every_vector(spark, sf_dir):
    """Occupancy sizes × bucket counts must tile the corpus, and the
    vector shares must sum to 1 (up to 6-dp rounding)."""
    rows = staged5.similarity_bucket_occupancy_audit(spark, sf_dir).collect()
    n = _n_embeddings(spark, sf_dir)
    assert sum(r.n_vectors for r in rows) == n
    assert abs(sum(r.vec_share for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert 0.0 <= r.collision_pair_share <= 1.0


def test_pps_draws_exactly_k_per_language(spark, sf_dir):
    """The k systematic grid points of each stratum land in exactly
    one weight interval each, so every language yields exactly k draws
    (a heavy document hit by two grid points appears once per hit)."""
    from collections import Counter

    from parquet_stream_writer_spark.operators.staged5 import _PPS_K

    rows = staged5.sample_pps_systematic(spark, sf_dir).collect()
    langs = {
        r.lang
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("lang")
        .distinct()
        .collect()
    }
    per_lang = Counter(r.lang for r in rows)
    assert set(per_lang) == langs
    assert all(c == _PPS_K for c in per_lang.values()), per_lang
    for r in rows:
        assert r.weight > 0
        assert 0.0 < r.inclusion_prob


def test_embargo_split_conserves_events_and_shares(spark, sf_dir):
    """No event is silently dropped (embargo rows are reported, not
    discarded) and each split's type shares sum to 1."""
    from collections import defaultdict

    from parquet_stream_writer_spark.sources import load_table

    rows = staged5.sample_temporal_embargo_split(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows) == total
    shares = defaultdict(float)
    for r in rows:
        assert r.split in ("train", "embargo", "valid")
        shares[r.split] += r.type_share
    for s, v in shares.items():
        assert abs(v - 1.0) < 1e-4, (s, v)


def test_error_slo_breach_consistency(spark, sf_dir):
    """A day with breached hours must report a worst share above the
    30% budget; a clean day must not."""
    rows = staged5.events_error_rate_slo(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_breached <= r.n_hours
        if r.n_breached > 0:
            assert r.worst_share > 0.3 - 1e-6
        else:
            assert r.worst_share <= 0.3 + 1e-6


def test_truncation_loss_monotone_in_cap(spark, sf_dir):
    """A larger cap can only keep more tokens: per source, loss at
    cap 64 ≤ loss at cap 32, and kept ≤ total always."""
    rows = staged5.text_token_budget_truncation(spark, sf_dir).collect()
    by_source = {}
    for r in rows:
        assert r.toks_kept <= r.toks_total
        assert r.docs_truncated <= r.n_docs
        by_source.setdefault(r.source, {})[r.cap] = r
    for source, caps in by_source.items():
        assert set(caps) == {32, 64}
        assert caps[64].toks_kept >= caps[32].toks_kept
        if caps[32].loss_share is not None and caps[64].loss_share is not None:
            assert caps[64].loss_share <= caps[32].loss_share + 1e-9
