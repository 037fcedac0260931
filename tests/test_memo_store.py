"""Cross-session dedup-memo persistence (operators/_memo_store.py).

Pins the three contracts VERDICT r7 item 4 asked for: a fingerprint
hit loads the persisted bucketed table instead of re-mining (including
from a PREVIOUS session, via the marker-validated CREATE TABLE
re-registration), a corpus rewrite structurally invalidates (new
fingerprint → new name → rebuild, never a stale read), and reloaded
values are identical to rebuilt ones.
"""

from __future__ import annotations

import shutil
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F


@pytest.fixture(autouse=True)
def _memo_dir(tmp_path_factory, monkeypatch):
    """The disk tier is opt-in since r19 (VERDICT r18 item 1):
    SPARK_GRAFT_MEMO_DIR unset ⇒ session-local memo only.  These
    persistence tests exercise the opt-in path, so each gets a
    throwaway warehouse dir."""
    monkeypatch.setenv(
        "SPARK_GRAFT_MEMO_DIR", str(tmp_path_factory.mktemp("memo_wh"))
    )


def _write_docs(spark, sf, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(sf / "documents.parquet"))


def _dup_rows(tag: str, n_groups: int):
    """n_groups near-dup pairs + singletons, content salted by tag."""
    rows = []
    for g in range(n_groups):
        base = f"{tag} shared shingle content block number {g} " * 12
        rows.append((g * 3, base, "en", "web", len(base)))
        rows.append((g * 3 + 1, base + " tail", "en", "web", len(base) + 5))
        solo = f"{tag} unique document {g} with entirely distinct words {g*7}"
        rows.append((g * 3 + 2, solo, "en", "web", len(solo)))
    return rows


def test_disk_tier_off_by_default(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_MEMO_DIR unset ⇒ no cross-run persistence: the
    store builds in-session, writes NOTHING, and a second direct call
    (bypassing the in-session memo) rebuilds — the bench-subsidy
    removal contract of VERDICT r18 item 1."""
    from parquet_stream_writer_spark.operators import _memo_store as store

    monkeypatch.delenv("SPARK_GRAFT_MEMO_DIR", raising=False)
    assert store._warehouse(spark) == ""
    df = spark.range(3).select(
        F.col("id").alias("d1"), F.col("id").alias("d2"), F.lit(1.0).alias("jaccard")
    )
    built = {"n": 0}

    def build():
        built["n"] += 1
        return df

    kw = dict(
        stage="verified_pairs",
        sf_dir=str(tmp_path),
        fingerprint=("gate", 1, 2),
        bucket_col="d1",
        buckets=16,
        build=build,
    )
    out1 = store.load_or_build_table(spark, **kw)
    assert built["n"] == 1 and out1.count() == 3
    table = store._table_name("verified_pairs", str(tmp_path), ("gate", 1, 2))
    assert not spark.catalog.tableExists(table), "no-env build must not persist"
    out2 = store.load_or_build_table(spark, **kw)
    assert built["n"] == 2, "a new call must rebuild when the tier is off"
    assert out2.count() == 3
    # And the cleanup hook is a safe no-op with the tier off.
    store.drop_persisted_memo(spark)


def test_persisted_memo_reloads_without_rebuilding(spark, tmp_path):
    """Second process (simulated): catalog entry gone, files + marker
    present → the store re-registers the bucketed table and returns
    IDENTICAL values without calling build()."""
    from parquet_stream_writer_spark.operators import _memo_store as store
    from parquet_stream_writer_spark.operators.dedup import (
        clear_dedup_memo,
        dedup_connected_components,
        dedup_minhash_lsh,
    )
    from parquet_stream_writer_spark.sources import table_fingerprint

    sf = tmp_path / "sfA"
    sf.mkdir()
    _write_docs(spark, sf, _dup_rows("alpha", 6))
    pairs = sorted(map(tuple, dedup_minhash_lsh(spark, str(sf)).collect()))
    cc = sorted(map(tuple, dedup_connected_components(spark, str(sf)).collect()))
    assert pairs and cc

    # Simulate a NEW session seeing the same corpus bytes: copy the
    # persisted table dirs to the names a different-stat copy of the
    # corpus would derive, so only the marker-driven CREATE TABLE path
    # can satisfy the load.
    sf2 = tmp_path / "sfB"
    sf2.mkdir()
    src, dst = sf / "documents.parquet", sf2 / "documents.parquet"
    if src.is_file():
        shutil.copy(str(src), str(dst))
    else:
        shutil.copytree(str(src), str(dst))
    # copy preserves mtimes — touch so the stat fingerprint differs
    # while the BYTES (and therefore the mining result) are identical.
    import os

    for p in ([dst] if dst.is_file() else list(dst.iterdir())):
        os.utime(p)
    wh = urlparse(store._warehouse(spark)).path
    fp1 = table_fingerprint(str(sf), "documents")
    fp2 = table_fingerprint(str(sf2), "documents")
    assert fp1 != fp2  # same bytes, different stat → different name
    for stage in ("verified_pairs", "cc_labels"):
        t1 = store._table_name(stage, str(sf), fp1)
        t2 = store._table_name(stage, str(sf2), fp2)
        shutil.copytree(f"{wh}/{t1}", f"{wh}/{t2}")

    clear_dedup_memo()
    calls = {"n": 0}
    orig = store.load_or_build_table

    def counting(spark_, **kw):
        build = kw.pop("build")

        def must_not_build():
            calls["n"] += 1
            return build()

        return orig(spark_, build=must_not_build, **kw)

    import parquet_stream_writer_spark.operators.dedup as dedup_mod

    # Route through the counting wrapper via the store module itself.
    store_load = store.load_or_build_table
    store.load_or_build_table = counting
    try:
        pairs2 = sorted(map(tuple, dedup_minhash_lsh(spark, str(sf2)).collect()))
        cc2 = sorted(
            map(tuple, dedup_connected_components(spark, str(sf2)).collect())
        )
    finally:
        store.load_or_build_table = store_load
    assert calls["n"] == 0, "persisted table present but build() re-ran"
    assert pairs2 == pairs and cc2 == cc


def test_corpus_rewrite_invalidates_persisted_memo(spark, tmp_path):
    """Rewriting the corpus in place must change the fingerprint and
    REBUILD — a stale persisted table must never be matched."""
    from parquet_stream_writer_spark.operators.dedup import (
        dedup_connected_components,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    _write_docs(spark, sf, _dup_rows("first", 4))
    before = sorted(map(tuple, dedup_connected_components(spark, str(sf)).collect()))

    _write_docs(spark, sf, _dup_rows("second", 7))  # different structure
    after = sorted(map(tuple, dedup_connected_components(spark, str(sf)).collect()))
    assert after != before
    assert len(after) == 7 * 2  # 7 pair-components, singletons excluded


def test_eviction_grace_window_spares_fresh_orphans(spark):
    """ADVICE r8: on a shared memo dir a concurrent session's in-flight
    save (files written, marker pending) is an "orphan" to this
    process's catalog check.  _evict_old must spare ANY table dir
    modified within the grace window, even beyond the keep budget,
    while still reclaiming genuinely old orphans."""
    import os
    import time as _time

    from parquet_stream_writer_spark.operators import _memo_store as store

    wh = urlparse(store._warehouse(spark)).path
    stage = "testevict"
    old_t = _time.time() - 2 * 3600  # well past the 1 h grace window
    dirs = []
    for i in range(store._KEEP_PER_STAGE + 2):
        d = f"{wh}/dedup_memo_{stage}_old{i:02d}"
        os.makedirs(d, exist_ok=True)
        os.utime(d, (old_t + i, old_t + i))  # distinct, all stale
        dirs.append(d)
    fresh = f"{wh}/dedup_memo_{stage}_freshinflight"
    os.makedirs(fresh, exist_ok=True)  # mtime = now: mid-save elsewhere
    try:
        store._evict_old(spark, stage)
        assert os.path.isdir(fresh), "fresh orphan evicted inside grace"
        survivors = [d for d in dirs if os.path.isdir(d)]
        # Fresh dir is excluded from candidates, so the 2 oldest stale
        # dirs beyond the keep budget are reclaimed.
        assert len(survivors) == store._KEEP_PER_STAGE
        assert not os.path.isdir(dirs[0]) and not os.path.isdir(dirs[1])
    finally:
        import shutil as _sh

        for d in dirs + [fresh]:
            _sh.rmtree(d, ignore_errors=True)


def test_marker_spec_mismatch_forces_rebuild(spark, tmp_path):
    """A marker whose spec disagrees with the requested bucketing must
    be ignored (files rebuilt) — never registered with wrong bucket
    metadata, which would silently mis-join."""
    from parquet_stream_writer_spark.operators import _memo_store as store

    sf = tmp_path / "sf"
    sf.mkdir()
    _write_docs(spark, sf, _dup_rows("gamma", 3))
    df = spark.range(5).select(
        F.col("id").alias("d1"), F.col("id").alias("d2"), F.lit(1.0).alias("jaccard")
    )
    built = {"n": 0}

    def build():
        built["n"] += 1
        return df

    fp = ("stub", 1, 2)
    out1 = store.load_or_build_table(
        spark,
        stage="verified_pairs",
        sf_dir=str(sf),
        fingerprint=fp,
        bucket_col="d1",
        buckets=16,
        build=build,
    )
    assert built["n"] == 1 and out1.count() == 5
    # Drop the catalog entry's in-memory registration by renaming the
    # table dir under a new fingerprint, then corrupt the marker spec.
    wh = urlparse(store._warehouse(spark)).path
    fp2 = ("stub", 3, 4)
    t1 = store._table_name("verified_pairs", str(sf), fp)
    t2 = store._table_name("verified_pairs", str(sf), fp2)
    shutil.copytree(f"{wh}/{t1}", f"{wh}/{t2}")
    marker = f"{wh}/{t2}/{store._MARKER}"
    spec = store._read_marker(spark, f"{wh}/{t2}")
    spec["buckets"] = 4  # wrong bucketing
    import json

    with open(marker, "w") as fh:
        json.dump(spec, fh)
    out2 = store.load_or_build_table(
        spark,
        stage="verified_pairs",
        sf_dir=str(sf),
        fingerprint=fp2,
        bucket_col="d1",
        buckets=16,
        build=build,
    )
    assert built["n"] == 2, "mismatched marker must not be registered"
    assert out2.count() == 5


def test_solo_time_disables_disk_tier(monkeypatch):
    """tools/solo_time.py must drop SPARK_GRAFT_MEMO_DIR before it
    times anything, as bench.py does: with the disk tier on, every rep
    after the first reloads the persisted dedup tables instead of
    paying its own mining cost."""
    import os
    import sys
    from pathlib import Path

    monkeypatch.syspath_prepend(str(Path(__file__).parents[1] / "tools"))
    import solo_time

    assert os.environ.get("SPARK_GRAFT_MEMO_DIR")
    monkeypatch.setattr(sys, "argv", ["solo_time.py"])
    with pytest.raises(SystemExit):  # no keys: exits before any session
        solo_time.main()
    assert "SPARK_GRAFT_MEMO_DIR" not in os.environ
