"""query_mix: a fixed list of pack keys, one or two per operator module,
run over a seeded corpus; the seed sets the order.

The warm-up pass runs every key once and checks its result against
the DuckDB ``oracle_sql()`` (rows > 0 for a key without one) outside
the timed region. Timed passes then repeat the mix until ``--seconds``
of pass time have passed; each pass starts with
``dedup.clear_dedup_memo()`` so it pays for dedup mining once, as a
fresh process would — without that the memo's cache hit would replace
the mining call. Each query is built (``fn(spark, sf_dir)``, eager
actions included) and executed with the ``noop`` sink. The loop loads
``sources``, ``operators.*`` and the ``session`` settings, and skips
both sinks.
"""

from __future__ import annotations

import math
import time

import numpy as np

from perfbench import corpus
from perfbench.common import Result, geomean, host_bracket, log, median, stop_spark

#: (key, operator module). ``dedup_minhash_lsh`` builds the dedup
#: mining memo (shingles, LSH candidates, verified pairs).
MIX = (
    ("q1_pricing_summary", "relational"),
    ("q21_waiting_supplier", "relational"),
    ("dedup_minhash_lsh", "dedup"),
    ("similarity_ivf_pq", "similarity"),
    ("text_token_count_bpe", "text"),
    ("events_tumbling", "streaming_batch"),
    ("multimodal_audio_features", "multimodal"),
    ("sample_hash_split", "pipeline"),
    ("text_bm25_search", "staged"),
    ("lineitem_discount_effectiveness", "staged2"),
    ("orders_status_mix_trend", "staged3"),
    ("text_oov_coverage", "staged4"),
    ("events_error_rate_slo", "staged5"),
)
MODULES = tuple(dict.fromkeys(m for _, m in MIX))
SCALES = {"full": dict(sf=0.01), "tiny": dict(sf=0.001)}
SETUP_REPEATS = 3


def _normalise(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same(left, right) -> bool:
    """Order-insensitive value comparison; floats to 1e-9 relative."""
    if list(left.columns) != list(right.columns) or len(left) != len(right):
        return False
    left, right = _normalise(left), _normalise(right)
    for col in left.columns:
        for a, b in zip(left[col].tolist(), right[col].tolist()):
            a_nan = a is None or (isinstance(a, float) and math.isnan(a))
            b_nan = b is None or (isinstance(b, float) and math.isnan(b))
            if a_nan or b_nan:
                if a_nan and b_nan:
                    continue
                return False
            if isinstance(a, float) or isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


def _warmup(spark, queries, oracles, sf_dir: str, res: Result) -> float:
    """Run every key once and check it; return the pass's wall time."""
    import duckdb

    from parquet_stream_writer_spark.operators import dedup
    from parquet_stream_writer_spark.sources import TABLES

    con = duckdb.connect()
    for table in TABLES:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')")
    dedup.clear_dedup_memo()
    t0 = time.perf_counter()
    for key, _ in MIX:
        res.attempted += 1
        try:
            got = queries[key](spark, sf_dir).toPandas()
            if key in oracles:
                ok = _same(got, con.sql(oracles[key]).df())
            else:
                ok = len(got) > 0
        except Exception as exc:  # the pass goes on; the key counts as failed
            res.fail(f"warm-up {key}: {exc!r}")
            continue
        if not ok:
            res.fail(f"warm-up {key}: result differs from the oracle")
        log(f"warm-up {key}: {time.perf_counter() - t0:.3f}s into the pass")
    con.close()
    return time.perf_counter() - t0


class _Passes:
    def __init__(self, spark, queries, order: list[int], sf_dir: str):
        self.spark, self.queries, self.order, self.sf_dir = spark, queries, order, sf_dir

    def run(self, seconds: float, res: Result, tracer=None) -> dict:
        from parquet_stream_writer_spark.operators import dedup

        sc = self.spark.sparkContext
        walls, pass_times = [], []
        build = {m: 0.0 for m in MODULES}
        exe = {m: 0.0 for m in MODULES}
        jobs = {m: 0 for m in MODULES}
        busy = 0.0
        n_pass = 0
        while busy < seconds:
            n_pass += 1
            dedup.clear_dedup_memo()
            times: dict[str, float] = {}
            t_pass = time.perf_counter()
            for i in self.order:
                key, module = MIX[i]
                group = f"perfbench-{n_pass}-{key}"
                sc.setJobGroup(group, key)
                res.attempted += 1
                t = time.perf_counter()
                try:
                    if tracer is None:
                        df = self.queries[key](self.spark, self.sf_dir)
                        t_built = time.perf_counter()
                        df.write.mode("overwrite").format("noop").save()
                    else:
                        with tracer.span(f"operators.{module}.build"):
                            df = self.queries[key](self.spark, self.sf_dir)
                        t_built = time.perf_counter()
                        with tracer.span(f"operators.{module}.exec"):
                            df.write.mode("overwrite").format("noop").save()
                except Exception as exc:  # the pass goes on; the key counts as failed
                    res.fail(f"pass {n_pass} {key}: {exc!r}")
                    continue
                done = time.perf_counter()
                times[key] = done - t
                log(f"pass {n_pass} {key}: build {t_built - t:.3f}s exec {done - t_built:.3f}s")
                build[module] += t_built - t
                exe[module] += done - t_built
                jobs[module] += len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setJobGroup("", "")
            wall = time.perf_counter() - t_pass
            busy += wall
            walls.append(wall)
            pass_times.append(times)
        return {
            "walls": walls,
            "pass_times": pass_times,
            "geomeans": [geomean(list(t.values())) for t in pass_times if t],
            "slowest": [max(t.values()) for t in pass_times if t],
            "build": build,
            "exec": exe,
            "jobs": jobs,
            "passes": n_pass,
        }


def _figures(m: dict) -> dict:
    """The workload's own figures, named as in the README."""
    return {
        "mix_wall_s": (median(m["walls"]), "s"),
        "query_geomean_s": (median(m["geomeans"]), "s"),
    }


def run(ctx) -> Result:
    cfg = SCALES[ctx.scale]
    res = Result()
    from parquet_stream_writer_spark.operators import all_oracles, all_queries
    from parquet_stream_writer_spark.session import get_session

    t = time.perf_counter()
    spark = get_session("perfbench-query_mix")
    get_session_s = time.perf_counter() - t
    try:
        t_session = time.perf_counter() - ctx.t0
        sf_dir = ctx.workdir / "corpus"
        gens = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            corpus.write_corpus(sf_dir, cfg["sf"], ctx.seed)
            gens.append(time.perf_counter() - t)
        setup_s = t_session + median(gens)
        queries, oracles = all_queries(), all_oracles()
        order = [int(i) for i in np.random.default_rng([ctx.seed, 31]).permutation(len(MIX))]
        res.extra["bracket_before"] = host_bracket(spark)
        warmup_s = _warmup(spark, queries, oracles, str(sf_dir), res)

        passes = _Passes(spark, queries, order, str(sf_dir))
        m = passes.run(ctx.seconds, res)
        res.end_to_end = {
            "setup_s": (setup_s, "s"),
            "unit_wall_s": (median(m["walls"]), "s"),
            "op_typical_ms": (median(m["geomeans"]) * 1e3, "ms"),
            "op_tail_ms": (median(m["slowest"]) * 1e3, "ms"),
        }
        res.detail = {
            **_figures(m),
            "warmup_pass_s": (warmup_s, "s"),
            "passes": (len(m["walls"]), "count"),
            "session.get_session_s": (get_session_s, "s"),
        }
        res.extra["pass_times"] = m["pass_times"]
        if ctx.tracer is not None:
            _traced(ctx, passes, m, res, get_session_s)
        res.extra["bracket_after"] = host_bracket(spark)
    finally:
        stop_spark(spark)
    return res


def _traced(ctx, passes, m, res, get_session_s) -> None:
    import parquet_stream_writer_spark.sources as sources
    from parquet_stream_writer_spark.operators import dedup

    tr = ctx.tracer
    tr.wrap(sources, "load_table", "sources.load_table")
    tr.wrap(sources, "scan_parallel", "sources.scan_parallel")
    tr.wrap(dedup, "_memo", "dedup.memo")
    try:
        t = passes.run(ctx.seconds, res, tracer=tr)
    finally:
        tr.restore()
    n = max(1, t["passes"])
    layer = {
        "sources.load_table_s": (tr.self_time("sources.load_table"), "s"),
        "sources.load_table_calls": (tr.calls("sources.load_table"), "count"),
        "sources.scan_parallel_s": (tr.self_time("sources.scan_parallel"), "s"),
        "dedup.memo_calls": (tr.calls("dedup.memo") / n, "count"),
        "dedup.mining_s": (tr.outermost_time("dedup.memo") / n, "s"),
        "session.get_session_s": (get_session_s, "s"),
        **_figures(t),
        "trace.overhead_s": (median(t["walls"]) - median(m["walls"]), "s"),
    }
    for module in MODULES:
        layer[f"operators.{module}.build_s"] = (t["build"][module] / n, "s")
        layer[f"operators.{module}.exec_s"] = (t["exec"][module] / n, "s")
        layer[f"operators.{module}.jobs"] = (t["jobs"][module] / n, "count")
    res.per_layer.update(layer)
    log(f"query_mix traced: {t['passes']} passes")
