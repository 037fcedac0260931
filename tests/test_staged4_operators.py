"""Oracle differential tests for the FOURTH staged operator pack
(operators/staged4.py) — the same local gate the first three staged
packs passed before registration; the driver sees these keys when
round 10 adds ``staged4`` to ``operators._modules()``.
"""

from __future__ import annotations

import pytest

from parquet_stream_writer_spark.operators import staged4

from tests.conftest import assert_results_match


@pytest.mark.parametrize("name", sorted(staged4.QUERIES))
def test_staged4_query_matches_oracle(name, spark, sf_dir, oracle_con):
    df = staged4.QUERIES[name](spark, sf_dir)
    assert name in staged4.ORACLE
    assert_results_match(df, oracle_con, staged4.ORACLE[name])


def test_staged4_keys_registered():
    """Round-10 inversion of the staging assertion: all 19 staged4
    keys (and their oracles) are now IN the driver registry."""
    from parquet_stream_writer_spark.operators import all_oracles, all_queries

    live = all_queries()
    assert set(staged4.QUERIES) <= set(live)
    assert set(staged4.ORACLE) <= set(all_oracles())


def test_staged4_every_key_has_an_oracle():
    assert set(staged4.QUERIES) == set(staged4.ORACLE)


@pytest.mark.parametrize("name", sorted(staged4.QUERIES))
def test_staged4_query_survives_empty_corpus(name, spark, empty_sf):
    """The FULL staged4 pack against a schema-exact zero-row corpus:
    no ANSI DIVIDE_BY_ZERO, no null-handling crash."""
    df = staged4.QUERIES[name](spark, empty_sf)
    assert df.count() >= 0  # materializes the plan; raises on ANSI errors


@pytest.fixture(scope="module")
def empty_oracle_con(empty_sf):
    import duckdb

    from parquet_stream_writer_spark.sources import TABLES

    con = duckdb.connect()
    for t in TABLES:
        # empty_sf is Spark-written (a directory per table) — glob the
        # part files, unlike the single-file driver testdata.
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{empty_sf}/{t}.parquet/*.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(staged4.QUERIES))
def test_staged4_empty_corpus_oracle_differential(
    name, spark, empty_sf, empty_oracle_con
):
    """ADVICE r9: an empty-input PARITY fork (Spark emits 0 rows while
    the oracle's ungrouped-totals CTE emits 1, as pre-fix
    events_user_lifetime did) must fail, not just a crash.  Row-count
    equality is the contract here — value/dtype strictness on zero- or
    constant-row frames is the sf>0 differential's job."""
    spark_rows = staged4.QUERIES[name](spark, empty_sf).count()
    oracle_rows = len(empty_oracle_con.sql(staged4.ORACLE[name]).df())
    assert spark_rows == oracle_rows, (
        f"empty-corpus parity fork: spark={spark_rows} oracle={oracle_rows}"
    )


#: Staged4 queries whose plans legitimately contain a
#: BroadcastNestedLoopJoin — all O(1)–O(k)-row scalar/grid broadcasts
#: (the registered pack's _NLJ_OK convention).  Fold into _NLJ_OK at
#: round-10 registration.
_STAGED4_NLJ_OK = {
    "text_oov_coverage",  # 8-row K-grid + 1-row totals broadcasts
    "similarity_hamming_topk",  # probe-code broadcast (non-equi id test)
    "sample_dedup_aware",  # 1-row totals broadcast
    "orders_basket_size_histogram",  # 1-row totals broadcast
    "orders_customer_migration",  # 1-row total broadcast
    "events_user_lifetime",  # 1-row totals broadcast
    "text_vocab_jaccard_by_lang",  # bounded lang-pair grid (lang < lang)
}


def test_staged4_pack_plan_sweep(spark, sf_dir):
    """The registered pack's plan sweep, applied BEFORE registration:
    no SortAggregate, no unexpected nested-loop join, no cartesian
    product anywhere in the staged4 pack."""
    from parquet_stream_writer_spark.plans import summarize

    offenders = {}
    for name, fn in sorted(staged4.QUERIES.items()):
        s = summarize(fn(spark, sf_dir))
        if s.nodes.get("SortAggregate"):
            offenders.setdefault(name, []).append("SortAggregate")
        if s.nodes.get("BroadcastNestedLoopJoin") and name not in _STAGED4_NLJ_OK:
            offenders.setdefault(name, []).append("BroadcastNestedLoopJoin")
        if s.nodes.get("CartesianProduct"):
            offenders.setdefault(name, []).append("CartesianProduct")
    assert not offenders, offenders


def test_staged4_ws_class_tokenizers_survive_vertical_tab(spark, tmp_path):
    """Direct differential for the round-16 WS_CLASS migration: on a
    \\x0B-bearing corpus, a ``\\s+`` split diverges between engines
    (Java's class matches vertical tab, RE2's does not), so reverting
    either side of text_oov_coverage / text_vocab_jaccard_by_lang to
    ``\\s+`` re-breaks THIS test — the sf corpora are well-formed and
    cannot catch it, and the pack-level adversarial differential in
    test_adversarial_corpus.py only parametrizes the first staged
    pack (self-review r16)."""
    import duckdb
    import pandas as pd

    texts = [
        "alpha\x0bbeta gamma",          # \x0B inside a would-be token
        "alpha beta\x0bgamma delta",
        "beta gamma alpha",
        "uno\x0bdos tres uno",
        "dos tres\x0buno",
        "tres uno dos",
    ]
    docs = pd.DataFrame(
        {
            "doc_id": pd.array(range(1, len(texts) + 1), dtype="int64"),
            "text": texts,
            "lang": ["en", "en", "en", "es", "es", "es"],
            "source": ["adv"] * len(texts),
            "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    # sanity: the corpus genuinely exercises the divergence — the
    # explicit class splits tokens \s+ would not (RE2 side)
    n_class = con.sql(
        "SELECT count(*) FROM (SELECT unnest(string_split_regex(trim(text), "
        r"'[ \t\n\r\f\x0B]+')) AS tok FROM documents) WHERE tok <> ''"
    ).fetchone()[0]
    n_s = con.sql(
        "SELECT count(*) FROM (SELECT unnest(string_split_regex(trim(text), "
        r"'\s+')) AS tok FROM documents) WHERE tok <> ''"
    ).fetchone()[0]
    assert n_class > n_s
    for name in ("text_oov_coverage", "text_vocab_jaccard_by_lang"):
        df = staged4.QUERIES[name](spark, str(tmp_path))
        assert_results_match(df, con, staged4.ORACLE[name])


def test_centroid_shift_half_split_survives_negative_vec_ids(spark, tmp_path):
    """Direct differential for the round-17 pmod mirror: Spark's
    ``F.pmod(vec_id, 2)`` is always 0/1, but DuckDB's bare ``%``
    follows the dividend's sign, so on a NEGATIVE-id corpus a
    ``vec_id % 2`` oracle puts odd negative ids in half −1 and
    silently drops them from the half-0/half-1 join.  The oracle now
    uses ``((vec_id % 2) + 2) % 2``; reverting it re-breaks THIS test
    — the driver corpus's ids are non-negative and cannot catch it."""
    import duckdb
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    n = 24
    ids = np.arange(-12, 12, dtype="int64")  # half the ids negative
    emb = pd.DataFrame(
        {
            "vec_id": ids,
            "embedding": [
                np.round(rng.uniform(-1, 1, 8), 7) for _ in range(n)
            ],
            "label": pd.array(rng.integers(0, 3, n), dtype="int32"),
        }
    )
    emb.to_parquet(tmp_path / "embeddings.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
    )
    # sanity: the corpus genuinely exercises the divergence — the
    # sign-following split leaves rows in half -1 that the join drops
    n_bare = con.sql(
        "SELECT count(DISTINCT vec_id) FROM embeddings WHERE vec_id % 2 = -1"
    ).fetchone()[0]
    assert n_bare > 0
    df = staged4.QUERIES["embedding_centroid_shift"](spark, str(tmp_path))
    assert_results_match(
        df, con, staged4.ORACLE["embedding_centroid_shift"]
    )
