"""push_ingest: a single-threaded, closed-loop producer pushes a seeded
pool of Arrow batches into ``ParquetStreamWriter`` with sharding on.

The loop never starts a JVM, so it loads ``sink.stream_writer`` only:
a change on the Spark side should show no effect here.

One *session* opens a writer, pushes ``session_bytes`` of input, closes
it and is then checked; sessions repeat until ``--seconds`` of session
time have passed. Inputs mix dicts of Python lists, ``RecordBatch`` and
two-chunk ``Table`` values whose int32 columns the writer must cast to
the int64 schema; batch sizes are uniform over 1-1000 rows with a rare
oversized batch of 20k-60k rows, and the text column draws from a
Zipf-distributed vocabulary so compression behaves as on real text.
"""

from __future__ import annotations

import gc
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench.common import Result, host_bracket, log, median, percentile

SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("qty", pa.int64()),
        ("price", pa.float64()),
        ("tag", pa.string()),
        ("text", pa.string()),
    ]
)
#: Columns pushed as int32 in RecordBatch/Table inputs (the writer casts).
NARROW = ("user_id", "qty")
TAGS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]

#: Sizes per scale: distinct batches in the pool (plus one in 500
#: oversized, ``big`` rows), bytes per session, shard threshold, writer
#: buffer.
#: The 4 MiB buffer makes ~2% of pushes flush, so the p99 push latency
#: falls among flush stalls.
SCALES = {
    "full": dict(items=1000, big=(20_000, 60_000), session_bytes=128 << 20, shard=32 << 20, buffer=4 << 20),
    "tiny": dict(items=40, big=(2_000, 4_000), session_bytes=6 << 20, shard=1 << 20, buffer=256 << 10),
}
#: Share of pool batches pushed as dict / RecordBatch / Table.
KIND_SHARES = (("dict", 0.3), ("batch", 0.5), ("table", 0.2))
SETUP_REPEATS = 3


@dataclass
class PoolItem:
    data: object  # dict | pa.RecordBatch | pa.Table, as pushed
    rows: int
    nbytes: int  # Arrow bytes once coerced to SCHEMA (the writer's accounting)
    id_sum: int
    qty_sum: int


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(2, 11, size)
    return np.array(["".join(letters[rng.integers(0, 26, k)]) for k in lengths])


def _accounted_bytes(data) -> int:
    """Bytes the writer counts for one push: ``nbytes`` of the input once
    coerced to the schema (dicts built against it, Arrow inputs cast)."""
    if isinstance(data, dict):
        return pa.RecordBatch.from_pydict(data, schema=SCHEMA).nbytes
    if isinstance(data, pa.RecordBatch):
        data = pa.Table.from_batches([data])
    return sum(b.nbytes for b in data.cast(SCHEMA).to_batches())


def build_pool(seed: int, cfg: dict) -> list[PoolItem]:
    """Seeded pool of distinct input batches."""
    rng = np.random.default_rng([seed, 11])
    vocab = _vocabulary(rng, 4000)
    ranks = np.minimum(rng.zipf(1.15, (8192, 40)), len(vocab)) - 1
    n_words = rng.integers(4, 41, 8192)
    bank = pa.array([" ".join(vocab[r[:k]]) for r, k in zip(ranks, n_words)])
    # Each kind's sizes are spread evenly over 1-1000 rows, so every
    # seed pushes the same mix of kinds and sizes, in its own order.
    shapes = [
        (kind, int(n))
        for kind, share in KIND_SHARES
        for n in np.linspace(1, 1000, round(share * cfg["items"]))
    ]
    n_big = max(1, cfg["items"] // 500)
    shapes += [("table", int(n)) for n in np.linspace(*cfg["big"], n_big)]
    pool: list[PoolItem] = []
    next_id = 0
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    for i in rng.permutation(len(shapes)):
        kind, n = shapes[i]
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        qty = rng.integers(1, 100, n)
        cols = {
            "id": pa.array(ids),
            "ts": pa.array(
                (t0 + np.sort(rng.integers(0, 86_400_000_000, n))).astype("datetime64[us]")
            ),
            "user_id": pa.array(rng.integers(0, 50_000, n)),
            "qty": pa.array(qty),
            "price": pa.array(np.round(rng.uniform(0.5, 500.0, n), 2)),
            "tag": pa.array(np.array(TAGS)[rng.integers(0, len(TAGS), n)]),
            "text": bank.take(pa.array(rng.integers(0, len(bank), n))),
        }
        if kind == "dict":
            data: object = {k: v.to_pylist() for k, v in cols.items()}
        else:
            narrow = {
                k: (v.cast(pa.int32()) if k in NARROW else v) for k, v in cols.items()
            }
            data = pa.RecordBatch.from_pydict(narrow)
            if kind == "table":
                cut = n // 2
                data = pa.Table.from_batches([data.slice(0, cut), data.slice(cut)])
        pool.append(PoolItem(data, n, _accounted_bytes(data), int(ids.sum()), int(qty.sum())))
    return pool


def _check_session(
    out: Path, prefix: str, written: list[Path], pushed: list[PoolItem], shard: int
) -> tuple[list[str], dict]:
    """Read the session's shards back and return (problems, figures)."""
    problems: list[str] = []
    on_disk = sorted(out.glob("*.parquet"))
    expected_names = [f"{prefix}-{i}.parquet" for i in range(len(on_disk))]
    if sorted(p.name for p in on_disk) != sorted(expected_names):
        problems.append(f"shard names not contiguous: {[p.name for p in on_disk]}")
    if {Path(p).resolve() for p in written} != {p.resolve() for p in on_disk}:
        problems.append("written_files does not match the files on disk")
    shards = [out / n for n in expected_names if (out / n).exists()]
    metas = [pq.ParquetFile(p).metadata for p in shards]
    rows = [m.num_rows for m in metas]
    if sum(rows) != sum(it.rows for it in pushed):
        problems.append(f"row count {sum(rows)} != pushed {sum(it.rows for it in pushed)}")
    data = pq.ParquetDataset(shards).read(columns=["id", "qty"]) if shards else None
    if data is not None:
        got = (pc.sum(data["id"]).as_py(), pc.sum(data["qty"]).as_py())
        want = (sum(it.id_sum for it in pushed), sum(it.qty_sum for it in pushed))
        if got != want:
            problems.append(f"checksum (id, qty) {got} != {want}")
    # Shard boundaries fall between pushes (rotation happens before a
    # flush, and a flush writes whole pushes), so each shard's input
    # bytes are the sum over the pushes it holds.
    shard_bytes: list[int] = []
    i = 0
    for n in rows:
        acc_rows = acc_bytes = 0
        while acc_rows < n and i < len(pushed):
            acc_rows += pushed[i].rows
            acc_bytes += pushed[i].nbytes
            i += 1
        if acc_rows != n:
            problems.append("a shard boundary splits a push")
            break
        shard_bytes.append(acc_bytes)
    if any(b <= shard for b in shard_bytes[:-1]):
        problems.append(f"a non-final shard is not over the threshold: {shard_bytes}")
    figures = {
        "shards": len(shards),
        "row_groups": sum(m.num_row_groups for m in metas),
        "rows": sum(rows),
        "disk_bytes": sum(p.stat().st_size for p in shards),
        "fill": [b / shard for b in shard_bytes[:-1]],
    }
    return problems, figures


class _Sessions:
    """Runs sessions back to back over the pool and keeps the figures."""

    def __init__(self, pool: list[PoolItem], order: np.ndarray, cfg: dict, workdir: Path):
        self.pool, self.order, self.cfg, self.workdir = pool, order, cfg, workdir
        self.pos = 0
        self.count = 0

    def run(self, seconds: float, res: Result) -> dict:
        from parquet_stream_writer_spark.sink.stream_writer import ParquetStreamWriter

        lat: list[float] = []
        unit_walls: list[float] = []
        pushed_bytes = disk_bytes = row_groups = rows = shards = 0
        fills: list[float] = []
        busy = 0.0
        while busy < seconds:
            out = self.workdir / f"session-{self.count}"
            prefix = "part"
            self.count += 1
            pushed: list[PoolItem] = []
            nbytes = 0
            t_unit = time.perf_counter()
            writer = ParquetStreamWriter(
                out,
                SCHEMA,
                shard_size_bytes=self.cfg["shard"],
                buffer_size_bytes=self.cfg["buffer"],
                file_prefix=prefix,
            )
            while nbytes < self.cfg["session_bytes"]:
                item = self.pool[self.order[self.pos]]
                self.pos = (self.pos + 1) % len(self.order)
                res.attempted += 1
                t = time.perf_counter()
                try:
                    writer.write_batch(item.data)
                except Exception as exc:  # a failed push is counted, the loop goes on
                    res.fail(f"write_batch: {exc!r}")
                else:
                    lat.append(time.perf_counter() - t)
                    pushed.append(item)
                nbytes += item.nbytes
            writer.close()
            wall = time.perf_counter() - t_unit
            busy += wall
            unit_walls.append(wall * self.cfg["session_bytes"] / nbytes)
            problems, fig = _check_session(out, prefix, writer.written_files, pushed, self.cfg["shard"])
            for p in problems:
                res.fail(f"session {self.count}: {p}")
            pushed_bytes += nbytes
            disk_bytes += fig["disk_bytes"]
            row_groups += fig["row_groups"]
            rows += fig["rows"]
            shards += fig["shards"]
            fills += fig["fill"]
            shutil.rmtree(out)
        return {
            "lat": lat,
            "unit_walls": unit_walls,
            "sessions": len(unit_walls),
            "pushed_bytes": pushed_bytes,
            "disk_bytes": disk_bytes,
            "row_groups": row_groups,
            "rows": rows,
            "shards": shards,
            "fills": fills,
        }


def _figures(m: dict, cfg: dict) -> dict:
    """The workload's own figures, named as in the README."""
    return {
        "push_mb_per_s": (cfg["session_bytes"] / (1 << 20) / median(m["unit_walls"]), "MB/s"),
        "push_p50_ms": (percentile(m["lat"], 50) * 1e3, "ms"),
        "push_p99_ms": (percentile(m["lat"], 99) * 1e3, "ms"),
        "disk_bytes_per_input_byte": (m["disk_bytes"] / m["pushed_bytes"], "ratio"),
    }


def run(ctx) -> Result:
    cfg = SCALES[ctx.scale]
    res = Result()
    import parquet_stream_writer_spark.sink.stream_writer  # noqa: F401  (import cost is set-up)

    t_import = time.perf_counter() - ctx.t0
    builds = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        pool = build_pool(ctx.seed, cfg)
        builds.append(time.perf_counter() - t)
    # The pool's Python lists are the producer's data, not garbage the
    # writer makes: keep the collector from rescanning them.
    gc.collect()
    gc.freeze()
    order = np.random.default_rng([ctx.seed, 12]).permutation(len(pool))
    setup_s = t_import + median(builds)
    res.extra["bracket_before"] = host_bracket()
    sessions = _Sessions(pool, order, cfg, ctx.workdir)

    m = sessions.run(ctx.seconds, res)
    res.end_to_end = {
        "setup_s": (setup_s, "s"),
        "unit_wall_s": (median(m["unit_walls"]), "s"),
        "op_typical_ms": (percentile(m["lat"], 50) * 1e3, "ms"),
        "op_tail_ms": (percentile(m["lat"], 99) * 1e3, "ms"),
    }
    res.detail = {
        **_figures(m, cfg),
        "sessions": (m["sessions"], "count"),
        "pushes": (len(m["lat"]), "count"),
    }
    if ctx.tracer is not None:
        from parquet_stream_writer_spark.sink.stream_writer import ParquetStreamWriter

        tr = ctx.tracer
        for meth in ("write_batch", "flush", "close"):
            tr.wrap(ParquetStreamWriter, meth, f"stream_writer.{meth}")
        try:
            t = sessions.run(ctx.seconds, res)
        finally:
            tr.restore()
        res.per_layer.update(
            {
                "stream_writer.write_batch_s": (tr.self_time("stream_writer.write_batch"), "s"),
                "stream_writer.flush_s": (tr.self_time("stream_writer.flush"), "s"),
                "stream_writer.flushes": (tr.calls("stream_writer.flush"), "count"),
                "stream_writer.close_s": (tr.self_time("stream_writer.close"), "s"),
                "stream_writer.shards": (t["shards"], "count"),
                "stream_writer.rows_per_row_group": (t["rows"] / max(1, t["row_groups"]), "rows"),
                "stream_writer.shard_fill_ratio": (
                    median(t["fills"]) if t["fills"] else 0.0,
                    "ratio",
                ),
                **_figures(t, cfg),
                "trace.overhead_s": (median(t["unit_walls"]) - median(m["unit_walls"]), "s"),
            }
        )
    res.extra["bracket_after"] = host_bracket()
    log(f"push_ingest: {len(pool)} pool batches, {m['sessions']} sessions, {len(m['lat'])} pushes")
    return res
