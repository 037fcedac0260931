"""stream_ingest: a Structured Streaming file source feeds
``StreamingShardSink`` in distributed mode, and Spark reads the shards
back.

Set-up writes a seeded sf0.1-sized ``lineitem`` (600k rows), permuted by
the seed and split into ``files`` parquet files. One *drain* starts a
streaming query over them (``maxFilesPerTrigger``, ``availableNow``)
that hands every micro-batch to the sink, which writes it with
``ShardedDatasetWriter`` under ``batch=N/``; drains repeat until
``--seconds`` of drain time have passed. After each drain Spark reads
the output back and the row count and column sums must equal the
source's. The loop loads ``streaming.sinks``, ``sink.sharded`` and the
Spark write path, and puts a read next to the write: a change that
speeds up ingest by writing smaller files shows in ``readback_s``.
"""

from __future__ import annotations

import math
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from perfbench import corpus
from perfbench.common import Result, host_bracket, log, median, percentile, stop_spark

SCALES = {
    "full": dict(sf=0.1, files=40, per_trigger=2, shard=8 << 20),
    "tiny": dict(sf=0.001, files=6, per_trigger=2, shard=64 << 10),
}
SETUP_REPEATS = 3
#: Micro-batch tail percentile (nearest rank). A run has 20-40 batches;
#: p75 leaves 5-10 beyond it, where p90 (2-4 beyond) spread ~2x more
#: from run to run.
TAIL_PCT = 75
INT_SUMS = ("l_orderkey", "l_linenumber")
FLOAT_SUMS = ("l_quantity", "l_extendedprice")


def _prepare(seed: int, cfg: dict, in_dir: Path) -> dict:
    """Write the permuted, split source; return its expected figures."""
    table = corpus.lineitem(cfg["sf"], seed)
    table = table.take(np.random.default_rng([seed, 21]).permutation(table.num_rows))
    if in_dir.exists():
        shutil.rmtree(in_dir)
    in_dir.mkdir(parents=True)
    per_file = math.ceil(table.num_rows / cfg["files"])
    for i in range(cfg["files"]):
        pq.write_table(table.slice(i * per_file, per_file), in_dir / f"part-{i:05d}.parquet")
    sums = {c: table[c].to_numpy().sum() for c in INT_SUMS + FLOAT_SUMS}
    return {
        "rows": table.num_rows,
        "bytes_per_row": table.nbytes / table.num_rows,
        "sums": {c: (int(v) if c in INT_SUMS else float(v)) for c, v in sums.items()},
    }


def _timed_sink_class():
    from parquet_stream_writer_spark.streaming.sinks import StreamingShardSink

    class TimedSink(StreamingShardSink):
        """Stamps the end of every micro-batch the sink completes: the
        gaps between stamps (the first measured from query start) are
        the micro-batch times, trigger overhead included."""

        stamps: list[float]

        def process_batch(self, batch_df, epoch_id):
            super().process_batch(batch_df, epoch_id)
            self.stamps.append(time.perf_counter())

    return TimedSink


class _Drains:
    def __init__(self, spark, cfg: dict, in_dir: Path, expect: dict, workdir: Path):
        self.spark, self.cfg, self.in_dir, self.expect, self.workdir = spark, cfg, in_dir, expect, workdir
        self.sink_class = _timed_sink_class()
        self.count = 0

    def _check(self, out: Path, sink, res: Result) -> tuple[float, list[Path]]:
        from pyspark.sql import functions as F

        problems = []
        on_disk = sorted(out.glob("batch=*/*.parquet"))
        if {p.resolve() for p in on_disk} != {Path(p).resolve() for p in sink.written_files}:
            problems.append("written_files does not match the files on disk")
        prefix = sink.file_prefix or out.name
        for bdir in sorted(out.glob("batch=*")):
            names = sorted(p.name for p in bdir.glob("*.parquet"))
            if names != sorted(f"{prefix}-{i}.parquet" for i in range(len(names))):
                problems.append(f"{bdir.name}: shard names not contiguous: {names}")
        t = time.perf_counter()
        row = (
            self.spark.read.parquet(str(out))
            .agg(F.count(F.lit(1)).alias("rows"), *[F.sum(c).alias(c) for c in INT_SUMS + FLOAT_SUMS])
            .collect()[0]
        )
        readback = time.perf_counter() - t
        if row["rows"] != self.expect["rows"]:
            problems.append(f"read back {row['rows']} rows, source has {self.expect['rows']}")
        for c, want in self.expect["sums"].items():
            got = row[c]
            ok = got == want if c in INT_SUMS else math.isclose(got, want, rel_tol=1e-9)
            if not ok:
                problems.append(f"sum({c}) read back {got}, source {want}")
        for p in problems:
            res.fail(f"drain {self.count}: {p}")
        return readback, on_disk

    def _drain(self, source: Path):
        """One streaming query over ``source``, run to completion."""
        from pyspark.errors import StreamingQueryException

        self.count += 1
        out = self.workdir / f"out-{self.count}" / "lineitem"
        ckpt = self.workdir / f"ckpt-{self.count}"
        t = time.perf_counter()
        sink = self.sink_class(path=out, shard_size_bytes=self.cfg["shard"])
        sink.stamps = [t]
        stream = (
            self.spark.readStream.schema(self.expect["spark_schema"])
            .option("maxFilesPerTrigger", self.cfg["per_trigger"])
            .parquet(str(source))
        )
        query = sink.start(stream, checkpoint=ckpt)
        try:
            query.awaitTermination()
        except StreamingQueryException:
            pass  # callers read and count it through query.exception()
        return sink, query, out, ckpt, time.perf_counter() - t

    def warm_up(self, res: Result) -> float:
        """One untimed drain, so class loading and the JIT are done
        before the timed drains: without it the first timed drain's
        batches speed up ~2× from first to last."""
        _, query, out, ckpt, wall = self._drain(self.in_dir)
        if query.exception() is not None:
            res.fail(f"warm-up drain: {query.exception()}")
        for d in (out.parent, ckpt):
            shutil.rmtree(d)
        return wall

    def run(self, seconds: float, res: Result, tracer=None) -> dict:
        sc = self.spark.sparkContext
        walls, batch_s, readbacks, durations = [], [], [], []
        files = jobs = tasks = empty = 0
        file_rows: list[int] = []
        busy = 0.0
        while busy < seconds:
            sink, query, out, ckpt, wall = self._drain(self.in_dir)
            busy += wall
            walls.append(wall)
            progress = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
            res.attempted += max(1, len(progress))
            if query.exception() is not None:
                res.fail(f"drain {self.count}: {query.exception()}")
            batch_s += [b - a for a, b in zip(sink.stamps, sink.stamps[1:])]
            durations += [p["durationMs"] for p in progress]
            empty += sink.batches_seen - len(progress)
            # Structured Streaming runs a query's jobs in a group named
            # after its run id, foreachBatch jobs included.
            new_jobs = sc.statusTracker().getJobIdsForGroup(str(query.runId))
            jobs += len(new_jobs)
            for jid in new_jobs:
                info = sc.statusTracker().getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = sc.statusTracker().getStageInfo(sid)
                    tasks += stage.numTasks if stage else 0
            readback, on_disk = self._check(out, sink, res)
            readbacks.append(readback)
            files += len(on_disk)
            if tracer is not None:
                file_rows += [pq.ParquetFile(p).metadata.num_rows for p in on_disk]
            shutil.rmtree(out.parent)
            shutil.rmtree(ckpt)
        return {
            "walls": walls,
            "batch_s": batch_s,
            "readbacks": readbacks,
            "durations": durations,
            "files": files,
            "file_rows": file_rows,
            "jobs": jobs,
            "tasks": tasks,
            "empty": empty,
            "batches": len(batch_s),
        }


def _figures(m: dict, expect: dict) -> dict:
    """The workload's own figures, named as in the README."""
    return {
        "stream_rows_per_s": (expect["rows"] / median(m["walls"]), "rows/s"),
        "batch_p50_s": (percentile(m["batch_s"], 50), "s"),
        "batch_p75_s": (percentile(m["batch_s"], TAIL_PCT), "s"),
        "readback_s": (median(m["readbacks"]), "s"),
    }


def run(ctx) -> Result:
    cfg = SCALES[ctx.scale]
    res = Result()
    from parquet_stream_writer_spark.session import get_session

    t = time.perf_counter()
    spark = get_session("perfbench-stream_ingest")
    get_session_s = time.perf_counter() - t
    try:
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
        t_session = time.perf_counter() - ctx.t0
        in_dir = ctx.workdir / "source"
        preps = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            expect = _prepare(ctx.seed, cfg, in_dir)
            preps.append(time.perf_counter() - t)
        expect["spark_schema"] = spark.read.parquet(str(in_dir / "part-00000.parquet")).schema
        setup_s = t_session + median(preps)
        res.extra["bracket_before"] = host_bracket(spark)

        drains = _Drains(spark, cfg, in_dir, expect, ctx.workdir)
        warmup_s = drains.warm_up(res)
        m = drains.run(ctx.seconds, res)
        res.end_to_end = {
            "setup_s": (setup_s, "s"),
            "unit_wall_s": (median(m["walls"]), "s"),
            "op_typical_ms": (percentile(m["batch_s"], 50) * 1e3, "ms"),
            "op_tail_ms": (percentile(m["batch_s"], TAIL_PCT) * 1e3, "ms"),
        }
        res.detail = {
            **_figures(m, expect),
            "drains": (len(m["walls"]), "count"),
            "micro_batches": (m["batches"], "count"),
            "files_per_drain": (m["files"] / len(m["walls"]), "count"),
            "warmup_drain_s": (warmup_s, "s"),
            "session.get_session_s": (get_session_s, "s"),
        }
        res.extra["batch_s"] = m["batch_s"]
        res.extra["drain_walls"] = m["walls"]
        if ctx.tracer is not None:
            _traced(ctx, drains, m, cfg, expect, res, get_session_s)
        res.extra["bracket_after"] = host_bracket(spark)
    finally:
        stop_spark(spark)
    return res


def _traced(ctx, drains, m, cfg, expect, res, get_session_s) -> None:
    from parquet_stream_writer_spark.sink import sharded
    from parquet_stream_writer_spark.streaming.sinks import StreamingShardSink

    tr = ctx.tracer
    tr.wrap(StreamingShardSink, "process_batch", "sinks.process_batch")
    tr.wrap(sharded.ShardedDatasetWriter, "write", "sharded.write")
    tr.wrap(sharded, "estimate_row_bytes", "sharded.estimate_row_bytes")
    try:
        t = drains.run(ctx.seconds, res, tracer=tr)
    finally:
        tr.restore()
    batches = max(1, t["batches"])

    def dur(key: str) -> float:
        return sum(d.get(key, 0) for d in t["durations"]) / 1e3

    fill = [n * expect["bytes_per_row"] / cfg["shard"] for n in t["file_rows"]]
    res.per_layer.update(
        {
            "sinks.process_batch_s": (tr.self_time("sinks.process_batch"), "s"),
            "sinks.batches": (tr.calls("sinks.process_batch"), "count"),
            "sinks.empty_batches": (t["empty"], "count"),
            "stream.trigger_s": (dur("triggerExecution"), "s"),
            "stream.add_batch_s": (dur("addBatch"), "s"),
            "stream.planning_s": (dur("queryPlanning"), "s"),
            "stream.wal_s": (dur("walCommit") + dur("commitOffsets"), "s"),
            "stream.jobs_per_batch": (t["jobs"] / batches, "count"),
            "stream.tasks_per_batch": (t["tasks"] / batches, "count"),
            "sharded.write_s": (tr.self_time("sharded.write"), "s"),
            "sharded.estimate_row_bytes_s": (tr.self_time("sharded.estimate_row_bytes"), "s"),
            "sharded.files": (t["files"], "count"),
            "sharded.file_fill_ratio": (median(fill) if fill else 0.0, "ratio"),
            "session.get_session_s": (get_session_s, "s"),
            **_figures(t, expect),
            "trace.overhead_s": (median(t["walls"]) - median(m["walls"]), "s"),
        }
    )
    log(f"stream_ingest traced: {t['batches']} micro-batches, {t['files']} files")
