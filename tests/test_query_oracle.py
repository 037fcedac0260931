"""Differential test: every query with an oracle must match DuckDB on
the same parquet inputs — the same gate the driver runs at sf0.01.

Queries without an oracle entry get a weaker executes-and-returns-rows
check (mirroring the driver's rows-only path).
"""

from __future__ import annotations

import pytest

from parquet_stream_writer_spark.operators import all_oracles, all_queries

from tests.conftest import assert_results_match

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, oracle_con):
    df = QUERIES[name](spark, sf_dir)
    if name in ORACLES:
        assert_results_match(df, oracle_con, ORACLES[name])
    else:
        # Rows-only: runs, has a stable schema, AND survives the driver's
        # canonicalizer (sort rows by every column) — array-typed output
        # columns crash that sort with "unhashable type" driver-side.
        pdf = df.toPandas()
        assert len(df.schema.fields) > 0
        if len(pdf.columns):
            pdf.reindex(sorted(pdf.columns), axis=1).sort_values(
                by=sorted(pdf.columns), ignore_index=True
            )


def test_oracle_keys_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)
    # The registry is a plain dict merge, so a key two modules both
    # define would silently keep only the later module's entry.
    from parquet_stream_writer_spark.operators import _modules

    mods = _modules()
    assert sum(len(m.QUERIES) for m in mods) == len(QUERIES)
    assert set().union(*(m.QUERIES for m in mods)) == set().union(
        *(m.ORACLE for m in mods)
    )


def test_hll_merged_estimate_tracks_exact(spark, sf_dir):
    """The merged-HLL bounds check must hold and the exact distinct
    must equal a direct countDistinct recomputation."""
    from pyspark.sql import functions as F

    from parquet_stream_writer_spark.operators.relational import agg_hll_mergeable
    from parquet_stream_writer_spark.sources import load_table

    r = agg_hll_mergeable(spark, sf_dir).collect()[0]
    assert r.merged_est_within_bound
    want = (
        load_table(spark, sf_dir, "orders")
        .agg(F.countDistinct("o_custkey").alias("x"))
        .first()["x"]
    )
    assert r.exact_distinct_custs == want


def test_kll_merged_quantiles_track_exact(spark, sf_dir):
    """The merged-KLL bounds checks must hold, the sketch must account
    for every input row, and the exact percentiles must match numpy's
    linear interpolation on the raw column."""
    import math

    import numpy as np

    from parquet_stream_writer_spark.operators.relational import (
        agg_kll_quantile_mergeable,
    )
    from parquet_stream_writer_spark.sources import load_table

    r = agg_kll_quantile_mergeable(spark, sf_dir).collect()[0]
    assert r.p50_within_bound and r.p90_within_bound
    assert r.sketch_saw_all_rows
    vals = [
        row["l_extendedprice"]
        for row in load_table(spark, sf_dir, "lineitem")
        .select("l_extendedprice")
        .collect()
    ]
    assert r.n_rows == len(vals)
    for got, p in [(r.exact_p50, 50), (r.exact_p90, 90)]:
        want = math.floor(float(np.percentile(vals, p)) * 10000 + 0.5) / 10000.0
        assert math.isclose(got, want, rel_tol=1e-9), (got, want, p)


def test_pca_merged_stats_match_direct_svd(spark, sf_dir):
    """The mergeable (n, Σx, XᵀX) formulation must reproduce direct
    per-label statistics to float precision, the in-query spectral
    bounds must hold, and the (no-longer-emitted) PC1 fraction from
    the same sufficient stats must match a direct centered SVD."""
    import math

    import numpy as np

    from parquet_stream_writer_spark.operators.similarity import (
        embedding_pca_by_label,
    )
    from parquet_stream_writer_spark.sources import load_table

    got = {r.label: r for r in embedding_pca_by_label(spark, sf_dir).collect()}
    pdf = load_table(spark, sf_dir, "embeddings").select("label", "embedding").toPandas()
    assert set(got) == set(pdf["label"].unique())
    for label, grp in pdf.groupby("label"):
        X = np.stack(grp["embedding"].to_numpy()).astype(np.float64)
        r = got[int(label)]
        assert r.n_vectors == len(grp)
        assert r.pc1_within_bounds
        cn = math.floor(float(np.linalg.norm(X.mean(axis=0))) * 10000 + 0.5) / 10000.0
        assert abs(r.centroid_norm - cn) < 1e-9
        mv = float(X.var(axis=0).mean())
        assert abs(r.mean_dim_var - (math.floor(mv * 10000 + 0.5) / 10000.0)) < 1e-9
        # the eigensolve the query runs internally still matches SVD
        s = np.linalg.svd(X - X.mean(axis=0, keepdims=True), compute_uv=False)
        expl = float(s[0] ** 2 / (s**2).sum())
        assert 1.0 / X.shape[1] <= expl <= 1.0


def test_theta_setops_track_exact(spark, sf_dir):
    """The theta set-algebra bounds checks must hold and the exact
    cohort arithmetic must be internally consistent."""
    from parquet_stream_writer_spark.operators.relational import (
        agg_theta_sketch_setops,
    )

    r = agg_theta_sketch_setops(spark, sf_dir).collect()[0]
    assert r.union_within_bound
    assert r.intersection_within_bound
    assert r.difference_within_bound
    assert r.exact_both_years + r.exact_only_1996 <= r.exact_union


def test_leakage_safe_split_never_splits_a_cluster(spark, sf_dir):
    """Every near-dup component must land wholly inside ONE split —
    the property sample_split_leakage_safe exists for (a per-doc
    hash split can put a doc in test while its near-copy trains)."""
    from pyspark.sql import functions as F

    from parquet_stream_writer_spark.operators.dedup import _cc_labels

    labels = _cc_labels(spark, sf_dir)
    bucket = F.expr(
        "(cast(conv(substring(md5(cast(label as string)), 1, 4), 16, 10)"
        " as bigint) % 100)"
    )
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    spread = (
        labels.withColumn("split", split)
        .groupBy("label")
        .agg(F.countDistinct("split").alias("n_splits"))
        .agg(F.max("n_splits").alias("worst"))
        .first()
    )
    if spread["worst"] is not None:  # corpus has at least one dup pair
        assert spread["worst"] == 1


def _docs_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def _with_docs(spark, tmp_path, rows):
    sf = tmp_path / "sf"
    sf.mkdir(exist_ok=True)
    _docs_df(spark, rows).coalesce(1).write.mode("overwrite").parquet(
        str(sf / "documents.parquet")
    )
    return str(sf)


def test_boundary_overlap_detects_chunk_splits(spark, tmp_path):
    """doc1's last 3 tokens == doc2's first 3 → exactly the (1, 2)
    seam; too-short docs and non-overlapping docs contribute nothing;
    a doc whose own head equals its tail must not self-pair."""
    from parquet_stream_writer_spark.operators.dedup import dedup_boundary_overlap

    sf = _with_docs(
        spark,
        tmp_path,
        [
            (1, "a b c d e f", "en", "s", 11),
            (2, "d e f x y z", "en", "s", 11),
            (3, "q w e r t y", "en", "s", 11),
            (4, "p q", "en", "s", 3),          # < 3 tokens: ignored
            (5, "m n o m n o", "en", "s", 11),  # head == tail: no self-pair
        ],
    )
    rows = dedup_boundary_overlap(spark, sf).collect()
    assert {(r["lead_doc"], r["follow_doc"], r["boundary"]) for r in rows} == {
        (1, 2, "d e f")
    }


def test_char_entropy_known_values(spark, tmp_path):
    """H('aaaa') = 0 (low_entropy); 16 equiprobable chars = exactly
    4 bits (NOT below the 4.0 threshold → ok); 'aabb' = 1 bit."""
    from parquet_stream_writer_spark.operators.text import text_char_entropy

    uniform16 = "abcdefghijklmnop"
    sf = _with_docs(
        spark,
        tmp_path,
        [
            (1, "aaaa", "en", "s", 4),
            (2, uniform16, "en", "s", 16),
            (3, "aabb", "en", "s", 4),
        ],
    )
    out = {r["doc_id"]: r for r in text_char_entropy(spark, sf).collect()}
    assert out[1]["entropy_bits"] == 0.0 and out[1]["verdict"] == "low_entropy"
    assert out[2]["entropy_bits"] == 4.0 and out[2]["verdict"] == "ok"
    assert out[3]["entropy_bits"] == 1.0 and out[3]["verdict"] == "low_entropy"
    assert out[2]["n_distinct_chars"] == 16


def test_importance_weighted_thresholds_scale_with_quality(spark, tmp_path):
    """The longest doc's threshold equals the base rate; shorter docs
    get sqrt-proportionally smaller thresholds (sub-linear tempering);
    every accepted row satisfies bucket < threshold."""
    from parquet_stream_writer_spark.operators.pipeline import (
        _IMP_BASE_RATE,
        _IMP_BUCKETS,
        sample_importance_weighted,
    )

    rows = [(i, f"doc {i}", "en", "s", n) for i, n in enumerate([100, 400, 1600])]
    sf = _with_docs(spark, tmp_path, rows)
    out = sample_importance_weighted(spark, sf).collect()
    for r in out:
        assert r["bucket"] < r["threshold"]
        expected = int((r["n_chars"] / 1600) ** 0.5 * _IMP_BASE_RATE * _IMP_BUCKETS + 0.5)
        assert r["threshold"] == expected


def test_curation_e2e_dedup_ranks_among_quality_survivors(spark, tmp_path):
    """A duplicate pair whose lowest-doc_id copy fails quality must
    still keep its surviving copy — the fused plan must equal the
    staged funnel-then-dedup pipeline, not dedup-then-funnel (the
    driver corpus has no duplicate texts, so this needs constructed
    data)."""
    import duckdb

    from parquet_stream_writer_spark.operators.pipeline import pipeline_curation_e2e
    from parquet_stream_writer_spark.operators import all_oracles

    text = "the quick brown fox jumps over lazy dogs near riverbank today"
    rows = [
        # dup pair: doc 1 fails min-length (n_chars=50), doc 2 passes.
        (1, text, "en", "srcA", 50),
        (2, text, "en", "srcA", 200),
        # a unique doc that passes everything.
        (3, text + " again", "en", "srcA", 200),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    docs.coalesce(1).write.parquet(str(sf / "documents.parquet"))

    out = {
        r["source"]: r
        for r in pipeline_curation_e2e(spark, str(sf)).collect()
    }
    got = out["srcA"]
    assert got["docs_raw"] == 3
    assert got["docs_quality"] == 2          # docs 2 and 3
    assert got["docs_deduped"] == 2          # doc 2 survives its dup pair
    # oracle agreement on the same constructed data
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    oracle = con.sql(all_oracles()["pipeline_curation_e2e"]).df()
    orow = oracle[oracle["source"] == "srcA"].iloc[0]
    assert int(orow["docs_deduped"]) == 2 and int(orow["docs_quality"]) == 2
    con.close()


from hypothesis import given, settings, strategies as st


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=400,
    )
)
def test_distributed_exact_percentile_matches_numpy(spark, values):
    """The range-bucket two-pass percentile must reproduce linear-
    interpolation (percentile_cont) semantics on arbitrary inputs —
    including all-equal values (zero bucket width) and single rows."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from parquet_stream_writer_spark.operators.relational import (
        _exact_percentiles_distributed,
    )

    vals = spark.createDataFrame([(float(v),) for v in values], "v double")
    row = _exact_percentiles_distributed(vals, {"p50": 0.5, "p90": 0.9}).first()
    want50 = float(np.percentile(values, 50))
    want90 = float(np.percentile(values, 90))
    assert math.isclose(row["p50"], want50, rel_tol=1e-9, abs_tol=1e-6), (
        row["p50"], want50, values)
    assert math.isclose(row["p90"], want90, rel_tol=1e-9, abs_tol=1e-6), (
        row["p90"], want90, values)


def test_bpe_train_learns_expected_merges(spark, tmp_path):
    """Hand-checkable corpus: 'low low low lower lowest' has pair
    (l,o) weighted 5, then (lo,w) 5, then (low,e) 2 ... — and the
    learned table must agree with the DuckDB oracle CTE on the same
    constructed data, including tie-breaks."""
    import duckdb

    from parquet_stream_writer_spark.operators import all_oracles
    from parquet_stream_writer_spark.operators.text import text_bpe_train

    sf = _with_docs(
        spark,
        tmp_path,
        [
            (1, "low low low", "en", "s", 11),
            (2, "lower lowest", "en", "s", 12),
        ],
    )
    rows = text_bpe_train(spark, sf).orderBy("merge_round").collect()
    got = [(r.merge_round, r.left_sym, r.right_sym, r.merged, r.pair_count) for r in rows]
    # round 1: (l,o) appears in low(3) + lower + lowest = weight 5
    assert got[0] == (1, "l", "o", "lo", 5)
    # round 2: (lo,w) same 5 docsets
    assert got[1] == (2, "lo", "w", "low", 5)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.sql(all_oracles()["text_bpe_train"]).fetchall()]
    assert got == want


def test_bpe_merge_application_handles_adjacent_runs(spark, tmp_path):
    """Consecutive occurrences of the winning pair share a delimiter
    in the string representation; the double-replace must still merge
    them all (and never cross word boundaries), agreeing with the
    oracle."""
    import duckdb

    from parquet_stream_writer_spark.operators import all_oracles
    from parquet_stream_writer_spark.operators.text import text_bpe_train

    sf = _with_docs(
        spark,
        tmp_path,
        [(1, "abababab abab cdcd", "en", "s", 18)],
    )
    rows = text_bpe_train(spark, sf).orderBy("merge_round").collect()
    got = [(r.merge_round, r.left_sym, r.right_sym, r.merged, r.pair_count) for r in rows]
    # (a,b) weight 6 wins round 1; all six occurrences must merge so
    # round 2 counts ADJACENT (ab,ab) pairs: [ab,ab,ab,ab] has 3,
    # [ab,ab] has 1 — weight 4.  A single-pass replace would leave
    # "a b" symbols behind and change this count.
    assert got[0] == (1, "a", "b", "ab", 6)
    assert got[1] == (2, "ab", "ab", "abab", 4)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.sql(all_oracles()["text_bpe_train"]).fetchall()]
    assert got == want
