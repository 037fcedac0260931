"""Oracle differential tests for the STAGED operator pack
(operators/staged.py) — same gate as tests/test_query_oracle.py, run
locally this round; the driver sees these keys when round 7 adds
``staged`` to ``operators._modules()``.
"""

from __future__ import annotations

import pytest

from parquet_stream_writer_spark.operators import staged

from tests.conftest import assert_results_match


@pytest.mark.parametrize("name", sorted(staged.QUERIES))
def test_staged_query_matches_oracle(name, spark, sf_dir, oracle_con):
    df = staged.QUERIES[name](spark, sf_dir)
    assert name in staged.ORACLE
    assert_results_match(df, oracle_con, staged.ORACLE[name])


def test_staged_keys_are_registered():
    """Round 7 flipped the pack live: every staged key must appear in
    the driver registry with its oracle (the round-6 inverse of this
    test asserted the opposite while the keys were window-parked)."""
    from parquet_stream_writer_spark.operators import all_oracles, all_queries

    live = all_queries()
    oracles = all_oracles()
    missing = set(staged.QUERIES) - set(live)
    assert not missing, f"staged keys not registered: {missing}"
    assert set(staged.ORACLE) <= set(oracles)
    # Registered callables are the staged module's own (no shadowing).
    for k, fn in staged.QUERIES.items():
        assert live[k] is fn


@pytest.mark.parametrize("name", sorted(staged.QUERIES))
def test_staged_query_survives_empty_corpus(name, spark, empty_sf):
    """The FULL staged pack against a schema-exact zero-row corpus:
    no ANSI DIVIDE_BY_ZERO (pyspark 4 default), no null-handling
    crash — the registered pack's empty-sweep guarantee, applied
    before registration instead of after."""
    df = staged.QUERIES[name](spark, empty_sf)
    assert df.count() >= 0  # materializes the plan; raises on ANSI errors


#: Staged queries whose plans legitimately contain a
#: BroadcastNestedLoopJoin — all O(1)-row scalar or bounded
#: probe-set broadcasts (the registered pack's _NLJ_OK convention).
_STAGED_NLJ_OK = {
    "events_forecast_baseline",  # 1-row backtest-window scalar broadcast
    "text_bm25_search",  # bounded probe-term-set broadcast (exact scan shape)
    "text_burstiness",  # 1-row corpus-size broadcast
    "events_ab_conversion_ztest",  # 1-row x 1-row arm-stats cross join
}


def test_staged_pack_plan_sweep(spark, sf_dir):
    """The registered pack's plan sweep, applied BEFORE registration:
    no SortAggregate (string-in-agg-buffer demotion), no unexpected
    nested-loop join, no cartesian product anywhere in the staged
    pack.  (similarity_mmr_rerank's non-equi candidate scan sits
    behind a localCheckpoint, so its materialization plan — not the
    final plan — carries the broadcast scan; the final plan is
    checked here like any other.)"""
    from parquet_stream_writer_spark.plans import summarize

    offenders = {}
    for name, fn in sorted(staged.QUERIES.items()):
        s = summarize(fn(spark, sf_dir))
        if s.nodes.get("SortAggregate"):
            offenders.setdefault(name, []).append("SortAggregate")
        if s.nodes.get("BroadcastNestedLoopJoin") and name not in _STAGED_NLJ_OK:
            offenders.setdefault(name, []).append("BroadcastNestedLoopJoin")
        if s.nodes.get("CartesianProduct"):
            offenders.setdefault(name, []).append("CartesianProduct")
    assert not offenders, offenders


def test_readability_wordless_lang_nulls_match_oracle(spark, tmp_path):
    """A language whose docs contain no words must yield NULL Flesch
    columns IDENTICALLY in both engines (Spark double division yields
    NULL, DuckDB follows IEEE — the WHEN/CASE guard pins them to the
    same NULL)."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "corpus"
    d.mkdir()
    texts = ["hello world. fine text!", "   \t ", " \n "]
    langs = ["en", "xx", "xx"]
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": texts,
            "lang": langs,
            "source": ["t"] * 3,
            "n_chars": [len(t) for t in texts],
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), d / "documents.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    assert_results_match(
        staged.QUERIES["text_readability"](spark, str(d)),
        con,
        staged.ORACLE["text_readability"],
    )
    got = {
        r.lang: r for r in staged.QUERIES["text_readability"](spark, str(d)).collect()
    }
    assert got["xx"].syllables_per_word is None
    assert got["xx"].flesch_ease is None
    assert got["en"].flesch_ease is not None
