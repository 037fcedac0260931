"""Oracle differential tests for the THIRD staged operator pack
(operators/staged3.py) — the same local gate the first two staged
packs passed before registration; the driver sees these keys when
round 9 adds ``staged3`` to ``operators._modules()``.
"""

from __future__ import annotations

import pytest

from parquet_stream_writer_spark.operators import staged3

from tests.conftest import assert_results_match


@pytest.mark.parametrize("name", sorted(staged3.QUERIES))
def test_staged3_query_matches_oracle(name, spark, sf_dir, oracle_con):
    df = staged3.QUERIES[name](spark, sf_dir)
    assert name in staged3.ORACLE
    assert_results_match(df, oracle_con, staged3.ORACLE[name])


def test_staged3_keys_registered():
    """Round-9 inversion of the staging assertion: all 28 staged3 keys
    (and their oracles) are now IN the driver registry."""
    from parquet_stream_writer_spark.operators import all_oracles, all_queries

    live = all_queries()
    assert set(staged3.QUERIES) <= set(live)
    assert set(staged3.ORACLE) <= set(all_oracles())


@pytest.mark.parametrize("name", sorted(staged3.QUERIES))
def test_staged3_query_survives_empty_corpus(name, spark, empty_sf):
    """The FULL staged3 pack against a schema-exact zero-row corpus:
    no ANSI DIVIDE_BY_ZERO, no null-handling crash."""
    df = staged3.QUERIES[name](spark, empty_sf)
    assert df.count() >= 0  # materializes the plan; raises on ANSI errors


#: Staged3 queries whose plans legitimately contain a
#: BroadcastNestedLoopJoin — all O(1)-row scalar broadcasts (the
#: registered pack's _NLJ_OK convention).  Fold into _NLJ_OK at
#: round-9 registration.
_STAGED3_NLJ_OK = {
    "part_type_price_premium",  # 1-row catalog-mean broadcast
    "text_boilerplate_ngrams",  # 1-row corpus-size broadcast
    "text_ngram_novelty_curve",  # 1-row (min, max) doc-id broadcast
    "similarity_pair_sample_histogram",  # 1-row max-id broadcast
    "sample_neyman_allocation",  # 1-row Σw / deficit broadcasts
    "pipeline_partition_pruning_audit",  # 1-row totals broadcast
    "embedding_dedup_agreement_audit",  # 1-row summary relation
    "agg_topk_with_others",  # 1-row total + head-sum broadcasts
    "events_props_key_census",  # 1-row event-total broadcast
    "graph_assortativity",  # 1-row node-count broadcast
    "text_lang_source_cramers_v",  # 1-row dims broadcast
}


def test_staged3_pack_plan_sweep(spark, sf_dir):
    """The registered pack's plan sweep, applied BEFORE registration:
    no SortAggregate, no unexpected nested-loop join, no cartesian
    product anywhere in the staged3 pack."""
    from parquet_stream_writer_spark.plans import summarize

    offenders = {}
    for name, fn in sorted(staged3.QUERIES.items()):
        s = summarize(fn(spark, sf_dir))
        if s.nodes.get("SortAggregate"):
            offenders.setdefault(name, []).append("SortAggregate")
        if s.nodes.get("BroadcastNestedLoopJoin") and name not in _STAGED3_NLJ_OK:
            offenders.setdefault(name, []).append("BroadcastNestedLoopJoin")
        if s.nodes.get("CartesianProduct"):
            offenders.setdefault(name, []).append("CartesianProduct")
    assert not offenders, offenders
