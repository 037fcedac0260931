"""Smoke test of the benchmark itself, at tiny scale.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs end to end (``--scale tiny``, traced) and must emit
every metric BENCHMARK.json names; corrupting a run's output must trip
its correctness check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import common, push_ingest

MANIFEST = json.loads((common.ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("workload", [w["name"] for w in MANIFEST["workloads"]])
def test_workload_emits_every_metric(workload):
    proc = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "1", "--scale", "tiny"],
        cwd=common.ROOT,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    out, _ = proc.communicate(timeout=600)
    assert proc.returncode == 0
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in MANIFEST["per_layer"]}
    log = common.LOG_ROOT / f"{workload}-s3-t1-{proc.pid}.json"
    record = json.loads(log.read_text())
    for m in MANIFEST["end_to_end"]:
        value, unit = record["end_to_end"][m["name"]]
        assert unit == m["unit"] and value > 0, m["name"]


def test_push_ingest_check_catches_a_deleted_shard(tmp_path):
    from parquet_stream_writer_spark.sink.stream_writer import ParquetStreamWriter

    cfg = push_ingest.SCALES["tiny"]
    pool = push_ingest.build_pool(5, cfg)
    out = tmp_path / "session"
    writer = ParquetStreamWriter(
        out, push_ingest.SCHEMA, shard_size_bytes=cfg["shard"],
        buffer_size_bytes=cfg["buffer"], file_prefix="part",
    )
    for item in pool:
        writer.write_batch(item.data)
    writer.close()
    check = lambda: push_ingest._check_session(  # noqa: E731
        out, "part", writer.written_files, pool, cfg["shard"]
    )[0]
    assert check() == []
    (out / "part-0.parquet").unlink()
    problems = check()
    assert any("contiguous" in p for p in problems)
    assert any("written_files" in p for p in problems)


def test_stream_ingest_check_catches_a_deleted_shard(tmp_path, monkeypatch):
    pytest.importorskip("pyspark")
    from perfbench import stream_ingest
    from perfbench.common import Result

    monkeypatch.chdir(tmp_path)
    saved_env = os.environ.copy()
    common.harden_env(tmp_path)
    from parquet_stream_writer_spark.session import get_session

    spark = get_session("perfbench-smoke")
    try:
        cfg = stream_ingest.SCALES["tiny"]
        expect = stream_ingest._prepare(5, cfg, tmp_path / "source")
        expect["spark_schema"] = spark.read.parquet(str(tmp_path / "source")).schema
        drains = stream_ingest._Drains(spark, cfg, tmp_path / "source", expect, tmp_path)
        sink, query, out, _, _ = drains._drain(tmp_path / "source")
        assert query.exception() is None
        res = Result()
        drains._check(out, sink, res)
        assert res.failed == 0, res.failures
        next(out.glob("batch=*/*-0.parquet")).unlink()
        drains._check(out, sink, res)
        assert res.failed > 0
    finally:
        common.stop_spark(spark)
        os.environ.clear()
        os.environ.update(saved_env)


def test_query_mix_comparison_catches_a_changed_value():
    import pandas as pd

    from perfbench.query_mix import _same

    left = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, None]})
    assert _same(left, left.iloc[::-1].reset_index(drop=True))
    changed = left.copy()
    changed.loc[1, "v"] = 1.5000001
    assert not _same(left, changed)
    assert not _same(left, left.iloc[:2])
