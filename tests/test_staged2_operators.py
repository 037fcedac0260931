"""Oracle differential tests for the SECOND staged operator pack
(operators/staged2.py) — the same local gate the first staged pack
passed before its round-7 registration; the driver sees these keys
when round 8 adds ``staged2`` to ``operators._modules()``.
"""

from __future__ import annotations

import pytest

from parquet_stream_writer_spark.operators import staged2

from tests.conftest import assert_results_match


@pytest.mark.parametrize("name", sorted(staged2.QUERIES))
def test_staged2_query_matches_oracle(name, spark, sf_dir, oracle_con):
    df = staged2.QUERIES[name](spark, sf_dir)
    assert name in staged2.ORACLE
    assert_results_match(df, oracle_con, staged2.ORACLE[name])


def test_staged2_keys_registered():
    """Round-8 inversion of the staging assertion: all 28 staged2 keys
    (and their oracles) are now IN the driver registry."""
    from parquet_stream_writer_spark.operators import all_oracles, all_queries

    live = all_queries()
    assert set(staged2.QUERIES) <= set(live)
    assert set(staged2.ORACLE) <= set(all_oracles())


@pytest.mark.parametrize("name", sorted(staged2.QUERIES))
def test_staged2_query_survives_empty_corpus(name, spark, empty_sf):
    """The FULL staged2 pack against a schema-exact zero-row corpus:
    no ANSI DIVIDE_BY_ZERO, no null-handling crash."""
    df = staged2.QUERIES[name](spark, empty_sf)
    assert df.count() >= 0  # materializes the plan; raises on ANSI errors


#: Staged2 queries whose plans legitimately contain a
#: BroadcastNestedLoopJoin — all O(1)-row scalar broadcasts (the
#: registered pack's _NLJ_OK convention).  Fold into _NLJ_OK at
#: round-8 registration.
_STAGED2_NLJ_OK = {
    "orders_abc_classification",  # 1-row (lo, hi, total) stats broadcast
    "orders_backlog_aging",  # 1-row max-date horizon broadcast
    "agg_histogram_equidepth",  # 1-row (lo, hi, n) stats broadcast
    "agg_benford_audit",  # 1-row total broadcast
    "pipeline_quarantine_router",  # 1-row total broadcast
    "events_type_share_drift",  # bounded weeks x types grid cross join
}


def test_staged2_pack_plan_sweep(spark, sf_dir):
    """The registered pack's plan sweep, applied BEFORE registration:
    no SortAggregate, no unexpected nested-loop join, no cartesian
    product anywhere in the staged2 pack."""
    from parquet_stream_writer_spark.plans import summarize

    offenders = {}
    for name, fn in sorted(staged2.QUERIES.items()):
        s = summarize(fn(spark, sf_dir))
        if s.nodes.get("SortAggregate"):
            offenders.setdefault(name, []).append("SortAggregate")
        if s.nodes.get("BroadcastNestedLoopJoin") and name not in _STAGED2_NLJ_OK:
            offenders.setdefault(name, []).append("BroadcastNestedLoopJoin")
        if s.nodes.get("CartesianProduct"):
            offenders.setdefault(name, []).append("CartesianProduct")
    assert not offenders, offenders
