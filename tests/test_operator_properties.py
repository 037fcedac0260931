"""Randomized cross-checks for the batch-5 operators: each test
builds a small synthetic corpus (fixed seeds, so failures reproduce),
runs the operator through its real parquet-loading path, and compares
against an independent brute-force model — covering regimes the
driver corpus never reaches (dominance ties, duplicate timestamps,
survival hitting zero, all-censored groups).
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pandas as pd
import pytest


def _write(tmp_path, name: str, pdf: pd.DataFrame) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "corpus"
    d.mkdir(exist_ok=True)
    # µs precision: the session reads parquet TIMESTAMP(NANOS) as
    # bigint (nanosAsLong, an events-table accommodation), which would
    # break date arithmetic on synthetic non-events tables.
    pdf = pdf.copy()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]")
    pq.write_table(pa.Table.from_pandas(pdf), d / f"{name}.parquet")
    return str(d)


@pytest.mark.parametrize("seed", [0, 7, 1234])
def test_skyline_matches_bruteforce_dominance(spark, tmp_path, seed):
    from parquet_stream_writer_spark.operators.relational import agg_skyline_pareto

    rng = np.random.default_rng(seed)
    n = 300
    # Coarse grids force ties in BOTH dimensions and duplicate points.
    sizes = rng.integers(1, 12, n)
    prices = np.floor(rng.uniform(10, 50, n) * 4) / 4.0
    pdf = pd.DataFrame(
        {"p_partkey": np.arange(n, dtype="int64"),
         "p_size": sizes.astype("int32"),
         "p_retailprice": prices}
    )
    sf = _write(tmp_path, "part", pdf)
    got = {
        (r.p_size, r.price, r.n_parts, r.min_partkey)
        for r in agg_skyline_pareto(spark, sf).collect()
    }

    # Brute force: O(n^2) dominance, then group frontier by size.
    pts = list(zip(pdf.p_partkey, pdf.p_size, pdf.p_retailprice))
    frontier = [
        (k, s, p)
        for k, s, p in pts
        if not any(
            (s2 >= s and p2 <= p and (s2 > s or p2 < p)) for _, s2, p2 in pts
        )
    ]
    want = set()
    for s in {s for _, s, _ in frontier}:
        grp = [(k, p) for k, s2, p in frontier if s2 == s]
        pmin = min(p for _, p in grp)
        want.add(
            (
                s,
                np.floor(pmin * 100 + 0.5) / 100.0,
                len(grp),
                min(k for k, _ in grp),
            )
        )
    assert got == want


@pytest.mark.parametrize("seed", [1, 42])
def test_concurrency_peak_matches_bruteforce_sweep(spark, tmp_path, seed):
    from parquet_stream_writer_spark.operators.streaming_batch import (
        _CONC_WINDOW_MIN,
        events_concurrency_peak,
    )

    rng = np.random.default_rng(seed)
    n = 400
    base = dt.datetime(2024, 3, 1)
    # Bursty arrivals across ~3 days, with DUPLICATE timestamps and
    # events exactly 30 minutes apart (end-meets-start ties).
    offsets = rng.integers(0, 3 * 24 * 60, n)
    offsets = np.concatenate([offsets, offsets[:40]])  # exact duplicates
    offsets = np.concatenate([offsets, offsets[:20] + _CONC_WINDOW_MIN])
    ts = [base + dt.timedelta(minutes=int(m)) for m in offsets]
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(len(ts), dtype="int64"),
            "ts": pd.to_datetime(ts),
            "user_id": np.zeros(len(ts), dtype="int64"),
            "event_type": ["click"] * len(ts),
            "value": np.ones(len(ts)),
            "props": ["{}"] * len(ts),
        }
    )
    sf = _write(tmp_path, "events", pdf)
    got = {
        (r.day, r.n_starts, r.n_ends, r.peak_concurrency)
        for r in events_concurrency_peak(spark, sf).collect()
    }

    # Brute force: sweep boundaries in (t, delta) order; track level and
    # per-day max, seeding each day with its carry-in level.
    bounds = [(t, 1) for t in ts] + [
        (t + dt.timedelta(minutes=_CONC_WINDOW_MIN), -1) for t in ts
    ]
    bounds.sort(key=lambda x: (x[0], x[1]))
    level = 0
    days: dict = {}
    prev_day = None
    for t, d in bounds:
        day = t.replace(hour=0, minute=0, second=0, microsecond=0)
        if day not in days:
            days[day] = {"starts": 0, "ends": 0, "peak": level}
        level += d
        rec = days[day]
        rec["starts" if d == 1 else "ends"] += 1
        rec["peak"] = max(rec["peak"], level)
        prev_day = day
    want = {
        (pd.Timestamp(day), rec["starts"], rec["ends"], rec["peak"])
        for day, rec in days.items()
    }
    assert got == want


def test_km_survival_hits_zero_and_censors(spark, tmp_path):
    """Hand-built corpus exercising the regimes sf data never hits:
    a group whose survivors all ship the same day (survival must hit
    EXACTLY zero via the dead flag, not exp(ln(0))), a group with
    censored orders, and ties."""
    from parquet_stream_writer_spark.operators.relational import (
        _KM_CENSOR_DAYS,
        orders_survival_kaplan_meier,
    )

    day0 = dt.datetime(2024, 1, 1)
    rows = []
    # group A: 4 orders, all ship on day 3 -> S(3) = 0 exactly.
    for i in range(4):
        rows.append(("A", i, 3))
    # group B: ships on days 1,1,5; one censored (beyond horizon).
    rows.append(("B", 10, 1))
    rows.append(("B", 11, 1))
    rows.append(("B", 12, 5))
    rows.append(("B", 13, _KM_CENSOR_DAYS + 30))
    orders = pd.DataFrame(
        {
            "o_orderkey": [k for _, k, _ in rows],
            "o_orderdate": [pd.Timestamp(day0)] * len(rows),
            "o_orderpriority": [g for g, _, _ in rows],
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": [k for _, k, _ in rows],
            "l_shipdate": [pd.Timestamp(day0 + dt.timedelta(days=t)) for _, _, t in rows],
        }
    )
    sf = _write(tmp_path, "orders", orders)
    _write(tmp_path, "lineitem", lineitem)

    out = {
        (r.o_orderpriority, r.t_day): (
            r.n_at_risk,
            r.n_events,
            r.n_censored,
            r.survival,
        )
        for r in orders_survival_kaplan_meier(spark, sf).collect()
    }
    # group A: one cell at t=3 with d=4=n -> survival exactly 0.0
    assert out[("A", 3)] == (4, 4, 0, 0.0)
    # group B: S(1) = 1 - 2/4 = 0.5; S(5) = 0.5 * (1 - 1/2) = 0.25;
    # censored cell at the horizon keeps survival 0.25.
    assert out[("B", 1)] == (4, 2, 0, 0.5)
    assert out[("B", 5)] == (2, 1, 0, 0.25)
    assert out[("B", _KM_CENSOR_DAYS)] == (1, 0, 1, 0.25)


# ---------------------------------------------------------------------------
# Staged-pack cross-checks (batch E): regimes the driver corpus never
# reaches — CUSUM ties, all-flat series, merge over random batch
# splits, label propagation on disconnected graphs.
# ---------------------------------------------------------------------------

def _pr(x, p):
    return np.floor(np.asarray(x, dtype="float64") * 10**p + 0.5) / 10**p


@pytest.mark.parametrize("seed", [3, 11, 500])
def test_cusum_changepoint_matches_bruteforce(spark, tmp_path, seed):
    from parquet_stream_writer_spark.operators.staged import events_cusum_changepoint

    rng = np.random.default_rng(seed)
    days = pd.date_range("2024-01-01", periods=20, freq="D")
    rows = []
    for etype, shift_at in [("a", 7), ("b", 13), ("flat", None)]:
        for i, day in enumerate(days):
            base = 5 if etype == "flat" else (3 if (shift_at and i < shift_at) else 9)
            n = base + (0 if etype == "flat" else int(rng.integers(0, 3)))
            for k in range(n):
                rows.append(
                    (len(rows), day + pd.Timedelta(minutes=int(k)), 1, etype, 1.0, "{}")
                )
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = _write(tmp_path, "events", pdf)
    got = {
        r.event_type: (r.cp_day, r.n_days, r.cusum_stat, r.mean_pre, r.mean_post)
        for r in events_cusum_changepoint(spark, sf).collect()
    }

    daily = (
        pdf.assign(day=pdf.ts.dt.floor("D"))
        .groupby(["event_type", "day"])
        .size()
        .reset_index(name="x")
        .sort_values(["event_type", "day"])
    )
    for etype, grp in daily.groupby("event_type"):
        x = grp.x.to_numpy(dtype="int64")
        d = list(grp.day)
        n = len(x)
        mean = x.sum() / n
        cum = np.cumsum(x)
        t = np.arange(1, n + 1)
        s = cum - t * mean
        # argmax |s| with earliest-day tie-break = numpy argmax (first max)
        i = int(np.argmax(np.abs(s)))
        mean_post = (
            (x.sum() - cum[i]) / (n - (i + 1)) if i + 1 < n else None
        )
        want = (
            d[i].to_pydatetime(),
            n,
            float(_pr(abs(s[i]), 4)),
            float(_pr(cum[i] / (i + 1), 4)),
            None if mean_post is None else float(_pr(mean_post, 4)),
        )
        assert got[etype] == want, (etype, got[etype], want)


@pytest.mark.parametrize("seed", [1, 42])
def test_incremental_refresh_merge_equals_recompute(spark, tmp_path, seed):
    from parquet_stream_writer_spark.operators.staged import (
        pipeline_incremental_agg_refresh,
    )

    rng = np.random.default_rng(seed)
    n = 400
    # Dates straddle the 1998-01-01 cutoff; prices exercise the cents
    # rounding on .xx5 boundaries.
    dates = pd.Timestamp("1997-06-01") + pd.to_timedelta(
        rng.integers(0, 400, n), unit="D"
    )
    prices = np.round(rng.uniform(10, 1000, n), 3)  # 3dp → forces rounding
    pdf = pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype="int64"),
            "o_custkey": rng.integers(1, 50, n).astype("int64"),
            "o_orderstatus": rng.choice(["O", "F", "P"], n),
            "o_totalprice": prices,
            "o_orderdate": dates,
            "o_orderpriority": ["1-URGENT"] * n,
        }
    )
    sf = _write(tmp_path, "orders", pdf)
    out = pipeline_incremental_agg_refresh(spark, sf).toPandas()
    assert out.matches_full.all()

    brute = (
        pdf.assign(
            month=pdf.o_orderdate.dt.strftime("%Y-%m"),
            cents=np.floor(pdf.o_totalprice * 100 + 0.5).astype("int64"),
        )
        .groupby(["month", "o_orderstatus"])
        .agg(n_orders=("cents", "size"), cents=("cents", "sum"))
        .reset_index()
    )
    got = out.set_index(["month", "status"]).sort_index()
    want = brute.set_index(["month", "o_orderstatus"]).sort_index()
    assert (got.n_orders.to_numpy() == want.n_orders.to_numpy()).all()
    assert np.array_equal(
        got.revenue.to_numpy(), _pr(want.cents.to_numpy() / 100.0, 2)
    )


@pytest.mark.parametrize("seed", [5, 99])
def test_label_propagation_matches_bruteforce(spark, tmp_path, seed):
    from parquet_stream_writer_spark.operators.staged import (
        _LP_ROUNDS,
        graph_label_propagation,
    )

    rng = np.random.default_rng(seed)
    # Sparse bipartite graph → stays DISCONNECTED at 3 rounds (the
    # regime the dense trade corpus never shows).
    n_orders, n_cust, n_supp = 120, 60, 15
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
        }
    )
    li = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, 150).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, 150).astype("int64"),
        }
    )
    d = tmp_path / "corpus"
    d.mkdir(exist_ok=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(orders), d / "orders.parquet")
    pq.write_table(pa.Table.from_pandas(li), d / "lineitem.parquet")
    sf = str(d)

    got = [
        (r["round"], r.n_communities, r.largest_community, r.n_singletons)
        for r in graph_label_propagation(spark, sf).collect()
    ]

    merged = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    pairs = {
        (int(c) * 2, int(s) * 2 + 1)
        for c, s in zip(merged.o_custkey, merged.l_suppkey)
    }
    adj: dict = {}
    for c, s in pairs:
        adj.setdefault(c, set()).add(s)
        adj.setdefault(s, set()).add(c)
    label = {v: v for v in adj}
    want = []
    for rnd in range(1, _LP_ROUNDS + 1):
        label = {
            v: min([label[v]] + [label[u] for u in adj[v]]) for v in adj
        }
        from collections import Counter

        sizes = Counter(label.values())
        want.append(
            (
                rnd,
                len(sizes),
                max(sizes.values()),
                sum(1 for s in sizes.values() if s == 1),
            )
        )
    assert got == want


@pytest.mark.parametrize("seed", [2, 77])
def test_anomaly_mad_matches_bruteforce(spark, tmp_path, seed):
    from parquet_stream_writer_spark.operators.staged import (
        _MAD_K,
        _MAD_THRESHOLD,
        events_anomaly_mad,
    )

    rng = np.random.default_rng(seed)
    days = pd.date_range("2024-03-01", periods=15, freq="D")
    rows = []
    for etype in ["x", "y"]:
        counts = rng.integers(4, 8, len(days))
        counts[3] = 40  # guaranteed outlier day
        if etype == "y":
            counts[:] = 6  # constant series → MAD = 0 regime
        for day, n in zip(days, counts):
            for k in range(int(n)):
                rows.append(
                    (len(rows), day + pd.Timedelta(minutes=int(k)), 1, etype, 1.0, "{}")
                )
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = _write(tmp_path, "events", pdf)
    got = {
        r.event_type: (r.n_days, r.median_daily, r.mad_daily, r.n_anomalous_days)
        for r in events_anomaly_mad(spark, sf).collect()
    }

    daily = (
        pdf.assign(day=pdf.ts.dt.floor("D"))
        .groupby(["event_type", "day"])
        .size()
        .reset_index(name="x")
    )
    for etype, grp in daily.groupby("event_type"):
        x = grp.x.to_numpy(dtype="float64")
        med = float(np.percentile(x, 50))  # linear interpolation = percentile()
        mad = float(np.percentile(np.abs(x - med), 50))
        if mad > 0:
            z = _MAD_K * (x - med) / mad
            n_anom = int((np.abs(z) > _MAD_THRESHOLD).sum())
        else:
            n_anom = 0
        want = (len(x), float(_pr(med, 4)), float(_pr(mad, 4)), n_anom)
        assert got[etype] == want, (etype, got[etype], want)


# ---------------------------------------------------------------------------
# Staged-pack cross-checks (batches D and F)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("seed", [4, 321])
def test_transition_entropy_matches_bruteforce(spark, tmp_path, seed):
    from parquet_stream_writer_spark.operators.staged import events_transition_entropy

    rng = np.random.default_rng(seed)
    n = 600
    base = pd.Timestamp("2024-05-01")
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            # duplicate timestamps per user force the event_id tie-break
            "ts": base + pd.to_timedelta(rng.integers(0, 200, n), unit="min"),
            "user_id": rng.integers(0, 20, n).astype("int64"),
            "event_type": rng.choice(["a", "b", "c"], n),
            "value": np.ones(n),
            "props": ["{}"] * n,
        }
    )
    sf = _write(tmp_path, "events", pdf)
    got = {
        r.cur: (r.n_transitions, r.n_successors, r.cond_entropy_bits)
        for r in events_transition_entropy(spark, sf).collect()
    }

    s = pdf.sort_values(["user_id", "ts", "event_id"])
    s = s.assign(nxt=s.groupby("user_id").event_type.shift(-1)).dropna(
        subset=["nxt"]
    )
    cells = s.groupby(["event_type", "nxt"]).size()
    for cur in sorted(cells.index.get_level_values(0).unique()):
        c = cells[cur].to_numpy(dtype="float64")
        t = c.sum()
        # Round-13 integer-sum contract: each cell's c*log2(c)
        # quantizes to a 1e-6-unit long before the (order-free) sum.
        clogc6 = sum(
            math.floor(v * np.log2(v) * 1e6 + 0.5) for v in c
        )
        h = np.log2(t) - clogc6 / (t * 1e6)
        want = (int(t), len(c), float(_pr(h, 6)))
        assert got[cur] == want, (cur, got[cur], want)


@pytest.mark.parametrize("seed", [6, 88])
def test_reorder_interval_matches_bruteforce(spark, tmp_path, seed):
    from parquet_stream_writer_spark.operators.staged import (
        _RI_BIN_DAYS,
        _RI_MAX_BIN,
        orders_reorder_interval,
    )

    rng = np.random.default_rng(seed)
    n = 500
    pdf = pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype="int64"),
            "o_custkey": rng.integers(0, 40, n).astype("int64"),
            "o_orderstatus": ["O"] * n,
            "o_totalprice": np.full(n, 100.0),
            # spread wide enough to hit the capped top bin; same-day
            # duplicates force the orderkey tie-break
            "o_orderdate": pd.Timestamp("1996-01-01")
            + pd.to_timedelta(rng.integers(0, 500, n), unit="D"),
            "o_orderpriority": ["1-URGENT"] * n,
        }
    )
    sf = _write(tmp_path, "orders", pdf)
    got = {
        r.bin: (r.bin_start_day, r.n_gaps, r.mean_gap_days)
        for r in orders_reorder_interval(spark, sf).collect()
    }

    s = pdf.sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    gaps = (
        s.groupby("o_custkey")
        .o_orderdate.diff()
        .dropna()
        .dt.days.to_numpy(dtype="int64")
    )
    bins = np.minimum(_RI_MAX_BIN, gaps // _RI_BIN_DAYS)
    for b in sorted(set(bins)):
        g = gaps[bins == b]
        want = (
            int(b) * _RI_BIN_DAYS,
            len(g),
            float(_pr(g.sum() / len(g), 4)),
        )
        assert got[b] == want, (b, got[b], want)


def test_readability_matches_python_re(spark, tmp_path):
    """Cross-checks the THIRD regex engine: Spark (Java) and DuckDB
    (RE2) already agree via the oracle; Python re pins the intended
    token semantics on adversarial text (tabs, CRLF, no-vowel words,
    unpunctuated docs, empty-ish docs)."""
    import re

    from parquet_stream_writer_spark.operators.staged import text_readability

    texts = [
        "One two three. Four five! Six?",
        "tabs\tand\r\nnewlines separate words",
        "nopunctuationatall",
        "rhythm myth crwth",  # y-only / no-vowel words
        "...", "a", "  ",
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype="int64"),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = _write(tmp_path, "documents", pdf)
    row = text_readability(spark, sf).collect()[0]

    tw = sum(len(re.findall(r"[^ \t\n\r]+", t)) for t in texts)
    ts_ = sum(max(1, len(re.findall(r"[.!?]", t))) for t in texts)
    ty = sum(len(re.findall(r"[aeiouyAEIOUY]+", t)) for t in texts)
    assert row.n_docs == len(texts)
    assert row.words_per_sentence == float(_pr(tw / ts_, 4))
    assert row.syllables_per_word == float(_pr(ty / tw, 4))
    assert row.flesch_ease == float(
        _pr(206.835 - 1.015 * (tw / ts_) - 84.6 * (ty / tw), 4)
    )


@pytest.mark.parametrize("seed", [9, 55])
def test_k_anonymity_matches_bruteforce(spark, tmp_path, seed):
    from parquet_stream_writer_spark.operators.staged import (
        _KANON_BAL_STEP,
        _KANON_K,
        pipeline_k_anonymity,
    )

    rng = np.random.default_rng(seed)
    n = 300
    pdf = pd.DataFrame(
        {
            "c_custkey": np.arange(n, dtype="int64"),
            "c_name": ["c"] * n,
            "c_nationkey": rng.integers(0, 5, n).astype("int64"),
            "c_acctbal": np.round(rng.uniform(-100, 400, n), 2),
            "c_mktsegment": rng.choice(["A", "B"], n),
        }
    )
    sf = _write(tmp_path, "customer", pdf)
    got = {
        r.qi_set: (r.n_rows, r.n_groups, r.min_group_size, r.n_unsafe_rows)
        for r in pipeline_k_anonymity(spark, sf).collect()
    }

    for name, cols in [
        ("nation+segment", [pdf.c_nationkey, pdf.c_mktsegment]),
        (
            "nation+segment+balance_bucket",
            [
                pdf.c_nationkey,
                pdf.c_mktsegment,
                np.floor(pdf.c_acctbal / _KANON_BAL_STEP).astype("int64"),
            ],
        ),
    ]:
        sizes = pdf.groupby([c for c in cols]).size()
        want = (
            n,
            len(sizes),
            int(sizes.min()),
            int(sizes[sizes < _KANON_K].sum()),
        )
        assert got[name] == want, (name, got[name], want)


def test_bootstrap_ci_matches_python_model(spark, tmp_path):
    """Replicates the whole deterministic bootstrap — md5 seed,
    SplitMix mixer, Poisson CDF cascade, weighted replicate means,
    interpolated percentiles — in pure Python/numpy and demands the
    identical interval."""
    import hashlib

    from parquet_stream_writer_spark.operators.staged import (
        _BT_POISSON_CDF,
        _BT_REPLICATES,
        _BT_SCALE,
        stats_bootstrap_ci,
    )

    n = 80
    rng = np.random.default_rng(12)
    prices = np.round(rng.uniform(10, 500, n), 2)
    pdf = pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype="int64"),
            "o_custkey": np.int64(1),
            "o_orderstatus": ["O"] * n,
            "o_totalprice": prices,
            "o_orderdate": pd.Timestamp("1997-01-01"),
            "o_orderpriority": ["1-URGENT"] * n,
        }
    )
    sf = _write(tmp_path, "orders", pdf)
    row = stats_bootstrap_ci(spark, sf).collect()[0]

    cents = np.floor(prices * 100 + 0.5).astype("int64")
    seeds = np.array(
        [int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) for k in range(n)],
        dtype="int64",
    )
    means = []
    for r in range(_BT_REPLICATES):
        z0 = (seeds + r * 2654435761) % 4294967296
        z1 = ((z0 ^ (z0 // 65536)) * 73244475) % 4294967296
        z2 = ((z1 ^ (z1 // 65536)) * 73244475) % 4294967296
        u = (z2 + 1) / float(_BT_SCALE + 2)
        w = np.full(n, 6, dtype="int64")
        for k in range(len(_BT_POISSON_CDF) - 1, -1, -1):
            w = np.where(u <= _BT_POISSON_CDF[k], k, w)
        if w.sum() > 0:
            means.append(float((w * cents).sum()) / w.sum() / 100.0)
    lo = float(np.percentile(means, 2.5))
    hi = float(np.percentile(means, 97.5))
    assert row.n_replicates == len(means)
    assert row.ci_lo == float(_pr(lo, 4))
    assert row.ci_hi == float(_pr(hi, 4))
    assert row.mean_value == float(_pr(cents.sum() / n / 100.0, 4))
    assert row.ci_lo < row.mean_value < row.ci_hi


@pytest.mark.parametrize("seed", [8, 44])
def test_ab_ztest_matches_bruteforce(spark, tmp_path, seed):
    import hashlib

    from parquet_stream_writer_spark.operators.staged import (
        events_ab_conversion_ztest,
    )

    rng = np.random.default_rng(seed)
    rows = []
    base = pd.Timestamp("2024-06-01")
    for uid in range(120):
        t_view = base + pd.Timedelta(minutes=int(rng.integers(0, 5000)))
        rows.append((len(rows), t_view, uid, "view", 1.0, "{}"))
        if rng.random() < 0.6:
            # half convert inside the 24h window, half outside
            delta = int(rng.integers(1, 1440)) if rng.random() < 0.5 else int(
                rng.integers(1441, 10000)
            )
            rows.append(
                (len(rows), t_view + pd.Timedelta(minutes=delta), uid, "purchase", 1.0, "{}")
            )
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = _write(tmp_path, "events", pdf)
    row = events_ab_conversion_ztest(spark, sf).collect()[0]

    stats = {0: [0, 0], 1: [0, 0]}
    for uid, grp in pdf.groupby("user_id"):
        views = grp[grp.event_type == "view"]
        if views.empty:
            continue
        fv = views.ts.min()
        conv = (
            (grp.event_type == "purchase")
            & (grp.ts > fv)
            & (grp.ts <= fv + pd.Timedelta(hours=24))
        ).any()
        arm = int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2
        stats[arm][0] += 1
        stats[arm][1] += int(conv)
    (n_a, c_a), (n_b, c_b) = stats[0], stats[1]
    assert (row.n_a, row.n_b) == (n_a, n_b)
    assert row.conv_rate_a == float(_pr(c_a / n_a, 6))
    assert row.conv_rate_b == float(_pr(c_b / n_b, 6))
    p = (c_a + c_b) / (n_a + n_b)
    se = (p * (1 - p) * (1 / n_a + 1 / n_b)) ** 0.5
    z = (c_a / n_a - c_b / n_b) / se
    assert row.z_stat == float(_pr(z, 4))
    assert row.significant_05 == (abs(z) > 1.959963984540054)


def test_weighted_median_matches_bruteforce_with_ties(spark, tmp_path):
    """Lower weighted median on a corpus built to hit the tricky
    regimes: exact half-total crossings, duplicate values collapsed
    by the pre-aggregation, a single-value group, heavy weight on
    one value."""
    from parquet_stream_writer_spark.operators.staged import agg_weighted_median

    rows = []
    # flag A: values 10,20,30 with weights 2,2,4 → half=4 → cum at 20 is 4 → median 20
    for v, w in [(10.0, 2), (20.0, 2), (30.0, 4)]:
        for _ in range(w):
            rows.append(("A", v))
    # flag B: single value
    rows += [("B", 55.5)] * 7
    # flag C: skew — one value carries 90% of weight
    rows += [("C", 1.0)] * 1 + [("C", 99.0)] * 9
    pdf = pd.DataFrame(rows, columns=["l_returnflag", "l_extendedprice"])
    pdf["l_quantity"] = 1.0
    for c in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]:
        pdf[c] = np.arange(len(pdf), dtype="int64")
    pdf["l_discount"] = 0.0
    pdf["l_tax"] = 0.0
    pdf["l_linestatus"] = "O"
    pdf["l_shipdate"] = pd.Timestamp("1996-01-01")
    sf = _write(tmp_path, "lineitem", pdf)
    got = {
        r.flag: r.weighted_median_price
        for r in agg_weighted_median(spark, sf).collect()
    }

    for flag, grp in pdf.groupby("l_returnflag"):
        agg = grp.groupby("l_extendedprice").l_quantity.sum().sort_index()
        half = agg.sum() / 2.0
        cum = agg.cumsum()
        want = float(_pr(cum.index[(cum >= half).argmax()], 2))
        assert got[flag] == want, (flag, got[flag], want)


def test_bm25_matches_python_model(spark, tmp_path):
    from parquet_stream_writer_spark.operators.staged import (
        _BM25_B,
        _BM25_K1,
        _BM25_PROBES,
        _BM25_TOP,
        text_bm25_search,
    )

    texts = [
        "spark sql engine",                # probes 0..4
        "duck db sql engine fast",
        "parquet file format columnar",
        "spark streaming windows",
        "graph label propagation rounds",
        "sql engine tuning guide",
        "columnar parquet reader spark",
        "fast graph engine",
        "completely unrelated words here",
        "spark spark spark sql",           # high-tf doc
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype="int64"),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = _write(tmp_path, "documents", pdf)
    out = text_bm25_search(spark, sf).collect()

    import math

    postings = {}
    for d, t in enumerate(texts):
        for tok in t.lower().split(" "):
            if tok:
                postings.setdefault(d, {}).setdefault(tok, 0)
                postings[d][tok] += 1
    dl = {d: sum(tfs.values()) for d, tfs in postings.items()}
    n_docs = len(dl)
    avgdl = sum(dl.values()) / n_docs
    df_ = {}
    for tfs in postings.values():
        for tok in tfs:
            df_[tok] = df_.get(tok, 0) + 1

    for qid in range(_BM25_PROBES):
        scores = {}
        for d, tfs in postings.items():
            if d == qid:
                continue
            # Round-13 integer-sum contract: each term's contribution
            # quantizes to a 1e-6-unit long; the score is the exact
            # integer sum and the ranking derives from it.
            s6, matched = 0, False
            for tok in postings[qid]:
                if tok in tfs:
                    matched = True
                    idf = math.log(
                        1.0 + (n_docs - df_[tok] + 0.5) / (df_[tok] + 0.5)
                    )
                    tf = tfs[tok]
                    contrib = idf * tf * (_BM25_K1 + 1.0) / (
                        tf + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * dl[d] / avgdl)
                    )
                    s6 += math.floor(contrib * 1e6 + 0.5)
            # the engines emit every candidate sharing >=1 probe term —
            # even one whose every contribution floors to 0 — so the
            # model keys on term overlap, not on s6 > 0
            if matched:
                scores[d] = s6
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:_BM25_TOP]
        got = [(r.doc_id, r.bm25) for r in out if r.qid == qid]
        assert [d for d, _ in got] == [d for d, _ in want], (qid, got, want)
        for (gd, gs), (wd, ws6) in zip(got, want):
            # Spark emits pround(score6 / 1e6, 4); round the model the
            # same way
            assert abs(gs - float(_pr(ws6 / 1e6, 4))) < 1e-9, (qid, gd, gs, ws6)


@pytest.mark.parametrize("seed", [13, 202])
def test_rolling_trend_matches_bruteforce(spark, tmp_path, seed):
    from parquet_stream_writer_spark.operators.staged import (
        _TREND_K,
        _TREND_USER_MOD,
        events_rolling_trend,
    )

    rng = np.random.default_rng(seed)
    rows = []
    base = pd.Timestamp("2024-07-01")
    for uid in [0, _TREND_USER_MOD, 3 * _TREND_USER_MOD, 7]:  # 7 filtered out
        n = int(rng.integers(1, 2 * _TREND_K))
        for i in range(n):
            rows.append(
                (
                    len(rows),
                    base + pd.Timedelta(minutes=i),
                    uid,
                    "view",
                    float(np.round(rng.uniform(0, 10), 2)),
                    "{}",
                )
            )
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = _write(tmp_path, "events", pdf)
    got = {
        (r.user_id, r.event_id): (r.n_window, r.trend_slope)
        for r in events_rolling_trend(spark, sf).collect()
    }
    assert all(uid % _TREND_USER_MOD == 0 for uid, _ in got)

    sel = pdf[pdf.user_id % _TREND_USER_MOD == 0].sort_values(
        ["user_id", "ts", "event_id"]
    )
    for uid, grp in sel.groupby("user_id"):
        ys = grp.value.to_numpy()
        eids = grp.event_id.to_numpy()
        for j in range(len(ys)):
            lo = max(0, j - (_TREND_K - 1))
            xs = np.arange(lo + 1, j + 2, dtype="float64")
            yw = ys[lo : j + 1]
            n = len(xs)
            denom = n * (xs * xs).sum() - xs.sum() ** 2
            want = (
                float(_pr((n * (xs * yw).sum() - xs.sum() * yw.sum()) / denom, 6))
                if denom > 0
                else None
            )
            gn, gs = got[(uid, eids[j])]
            assert gn == n
            if want is None:
                assert gs is None
            else:
                assert gs is not None and abs(gs - want) < 1e-9, (uid, j, gs, want)


def test_forecast_baseline_matches_bruteforce(spark, tmp_path):
    from parquet_stream_writer_spark.operators.staged import (
        _FC_HORIZON,
        _FC_PERIOD,
        events_forecast_baseline,
    )

    rng = np.random.default_rng(21)
    days = pd.date_range("2024-01-01", periods=21, freq="D")
    counts = [5 + (i % _FC_PERIOD) + int(rng.integers(0, 2)) for i in range(len(days))]
    rows = []
    for day, n in zip(days, counts):
        for k in range(n):
            rows.append((len(rows), day + pd.Timedelta(minutes=k), 1, "view", 1.0, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = _write(tmp_path, "events", pdf)
    row = events_forecast_baseline(spark, sf).collect()[0]

    series = dict(zip(days, counts))
    max_day = days[-1]
    pairs = [
        (series[d], series[d - pd.Timedelta(days=_FC_PERIOD)])
        for d in days
        if d > max_day - pd.Timedelta(days=_FC_HORIZON)
        and (d - pd.Timedelta(days=_FC_PERIOD)) in series
    ]
    n = len(pairs)
    errs = [y - yh for y, yh in pairs]
    assert row.n_days == n
    assert row.actual_total == sum(y for y, _ in pairs)
    assert row.predicted_total == sum(yh for _, yh in pairs)
    assert row.mae == float(_pr(sum(abs(e) for e in errs) / n, 4))
    assert row.bias == float(_pr(sum(errs) / n, 4))
    # Round-13 integer-sum contract: per-day |err|/y ratios quantize
    # to 1e-6-unit longs before the (order-free) sum.
    ratio6 = sum(
        math.floor(abs(e) / y * 1e6 + 0.5) for e, (y, _) in zip(errs, pairs)
    )
    assert row.mape == float(_pr(ratio6 / (n * 1e6), 6))


@pytest.mark.parametrize("seed", [17, 404])
def test_chi_square_matches_scipy_free_model(spark, tmp_path, seed):
    from parquet_stream_writer_spark.operators.staged import (
        _CHI2_CRIT_05,
        agg_chi_square_independence,
    )

    rng = np.random.default_rng(seed)
    n = 900
    base = pd.Timestamp("2024-02-05")  # a Monday
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": base + pd.to_timedelta(rng.integers(0, 21 * 1440, n), unit="min"),
            "user_id": rng.integers(0, 40, n).astype("int64"),
            "event_type": rng.choice(["a", "b", "c", "d"], n, p=[0.4, 0.3, 0.2, 0.1]),
            "value": np.ones(n),
            "props": ["{}"] * n,
        }
    )
    sf = _write(tmp_path, "events", pdf)
    row = agg_chi_square_independence(spark, sf).collect()[0]

    us = pdf.ts.astype("int64") // 1000  # ns -> us
    dow = (us // 86_400_000_000 + 3) % 7
    tab = pd.crosstab(pdf.event_type, dow)
    obs = tab.to_numpy(dtype="float64")
    rt = obs.sum(axis=1, keepdims=True)
    ct = obs.sum(axis=0, keepdims=True)
    t = obs.sum()
    exp = rt * ct / t
    # Round-13 integer-sum contract: each cell's (o-e)^2/e term
    # quantizes to a 1e-6-unit long before the (order-free) sum —
    # reproduce it exactly, like the DuckDB oracle does.
    terms = (obs - exp) ** 2 / exp
    chi2 = sum(
        math.floor(v * 1e6 + 0.5) for v in terms.ravel()
    ) / 1e6
    dof = (tab.shape[0] - 1) * (tab.shape[1] - 1)
    assert row.n_events == n
    assert row.dof == dof
    assert abs(row.chi2 - float(_pr(chi2, 6))) < 1e-9
    # round-7: the verdict derives its critical value from the
    # COMPUTED dof (here (4-1)*(7-1) = 18), not a fixed df=24.
    assert row.dependent_at_05 == (chi2 > _CHI2_CRIT_05[dof - 1])


@pytest.mark.parametrize("seed", [23, 909])
def test_autocorrelation_matches_numpy(spark, tmp_path, seed):
    from parquet_stream_writer_spark.operators.staged import (
        _AC_LAGS,
        events_autocorrelation,
    )

    rng = np.random.default_rng(seed)
    days = pd.date_range("2024-04-01", periods=28, freq="D")
    counts = (10 + 4 * np.sin(np.arange(len(days)) * 2 * np.pi / 7)
              + rng.integers(0, 3, len(days))).astype(int)
    rows = []
    for day, c in zip(days, counts):
        for k in range(int(c)):
            rows.append((len(rows), day + pd.Timedelta(minutes=k), 1, "view", 1.0, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = _write(tmp_path, "events", pdf)
    got = {r.lag_days: (r.n_pairs, r.autocorr)
           for r in events_autocorrelation(spark, sf).collect()}

    x = counts.astype("float64")
    for lag in _AC_LAGS:
        a, b = x[lag:], x[:-lag]
        n = len(a)
        num = n * (a * b).sum() - a.sum() * b.sum()
        den = ((n * (a * a).sum() - a.sum() ** 2)
               * (n * (b * b).sum() - b.sum() ** 2)) ** 0.5
        want = float(_pr(num / den, 6))
        gn, gr = got[lag]
        assert gn == n
        assert abs(gr - want) < 1e-9, (lag, gr, want)
    # weekly seasonality planted: lag-7 autocorrelation must dominate lag-1
    assert got[7][1] > got[1][1]


@pytest.mark.parametrize("seed", [31, 77])
def test_lorenz_curve_matches_bruteforce(spark, tmp_path, seed):
    from parquet_stream_writer_spark.operators.staged import (
        _LZ_POINTS,
        orders_lorenz_curve,
    )

    rng = np.random.default_rng(seed)
    # two nations, skewed revenue, deliberate ties at low values
    nat = pd.DataFrame({"n_nationkey": np.int64([0, 1]), "n_name": ["AAA", "BBB"]})
    custs = pd.DataFrame(
        {
            "c_custkey": np.arange(40, dtype="int64"),
            "c_name": ["c"] * 40,
            "c_nationkey": np.int64([0] * 20 + [1] * 20),
            "c_acctbal": np.zeros(40),
            "c_mktsegment": ["BUILDING"] * 40,
        }
    )
    n_ord = 300
    prices = np.where(
        rng.random(n_ord) < 0.3, 10.0, np.round(rng.pareto(1.5, n_ord) * 50 + 10, 2)
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, 40, n_ord).astype("int64"),
            "o_orderstatus": ["O"] * n_ord,
            "o_totalprice": prices,
            "o_orderdate": pd.Timestamp("1997-01-01"),
            "o_orderpriority": ["1-URGENT"] * n_ord,
        }
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "corpus"
    d.mkdir(exist_ok=True)
    for name, frame in [("nation", nat), ("customer", custs), ("orders", orders)]:
        pq.write_table(pa.Table.from_pandas(frame), d / f"{name}.parquet")
    got = {
        (r.nation, r.bottom_pct): (r.n_customers, r.k_customers, r.revenue_share)
        for r in orders_lorenz_curve(spark, str(d)).collect()
    }

    cents = np.floor(orders.o_totalprice.to_numpy() * 100 + 0.5).astype("int64")
    per_cust = (
        pd.DataFrame({"cust": orders.o_custkey, "cents": cents})
        .groupby("cust")
        .cents.sum()
    )
    for nk, nname in [(0, "AAA"), (1, "BBB")]:
        members = per_cust[per_cust.index.isin(custs[custs.c_nationkey == nk].c_custkey)]
        vals = np.sort(members.to_numpy())
        N, total = len(vals), int(vals.sum())
        for p in _LZ_POINTS:
            k = (p * N + 99) // 100
            want = float(_pr(int(vals[:k].sum()) / total, 6))
            gn, gk, gs = got[(nname, p)]
            assert (gn, gk) == (N, k)
            assert abs(gs - want) < 1e-9, (nname, p, gs, want)


@pytest.mark.parametrize("seed", [41])
def test_time_to_convert_matches_numpy(spark, tmp_path, seed):
    from parquet_stream_writer_spark.operators.staged import events_time_to_convert

    rng = np.random.default_rng(seed)
    rows = []
    base = pd.Timestamp("2024-08-01")
    lat = {}
    for uid in range(60):
        tv = base + pd.Timedelta(minutes=int(rng.integers(0, 1000)))
        rows.append((len(rows), tv, uid, "view", 1.0, "{}"))
        r = rng.random()
        if r < 0.5:
            dt_us = int(rng.integers(1, 5_000_000_000))
            rows.append((len(rows), tv + pd.Timedelta(microseconds=dt_us), uid, "purchase", 1.0, "{}"))
            lat[uid] = dt_us
        elif r < 0.65:  # purchase BEFORE first view → excluded
            rows.append((len(rows), tv - pd.Timedelta(minutes=5), uid, "purchase", 1.0, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = _write(tmp_path, "events", pdf)
    row = events_time_to_convert(spark, sf).collect()[0]

    secs = np.array(sorted(v / 1e6 for v in lat.values()))
    assert row.n_converting_users == len(secs)
    assert row.p25_sec == float(_pr(np.percentile(secs, 25), 4))
    assert row.p50_sec == float(_pr(np.percentile(secs, 50), 4))
    assert row.p90_sec == float(_pr(np.percentile(secs, 90), 4))
    # Round-13 integer-sum contract: mean = (exact Σus)/(n·1e6).
    assert row.mean_sec == float(
        _pr(sum(lat.values()) / (len(lat) * 1e6), 4)
    )


@pytest.mark.parametrize("seed", [53])
def test_dau_mau_matches_bruteforce(spark, tmp_path, seed):
    from parquet_stream_writer_spark.operators.staged import (
        _MAU_DAYS,
        events_dau_mau_stickiness,
    )

    rng = np.random.default_rng(seed)
    days = pd.date_range("2024-01-01", periods=45, freq="D")
    rows = []
    for day in days:
        for uid in rng.choice(30, size=int(rng.integers(3, 12)), replace=False):
            rows.append((len(rows), day + pd.Timedelta(hours=2), int(uid), "view", 1.0, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = _write(tmp_path, "events", pdf)
    got = {r.day: (r.dau, r.mau, r.stickiness)
           for r in events_dau_mau_stickiness(spark, sf).collect()}

    pairs = pdf.assign(day=pdf.ts.dt.floor("D"))[["user_id", "day"]].drop_duplicates()
    for d in pairs.day.unique():
        dau = pairs[pairs.day == d].user_id.nunique()
        win = pairs[(pairs.day <= d) & (pairs.day > d - pd.Timedelta(days=_MAU_DAYS))]
        mau = win.user_id.nunique()
        gd, gm, gs = got[pd.Timestamp(d).to_pydatetime()]
        assert (gd, gm) == (dau, mau)
        assert gs == float(_pr(dau / mau, 4))


@pytest.mark.parametrize("seed", [19, 808])
def test_quality_psi_matches_python_free_model(spark, tmp_path, seed):
    """Pins the round-15 integer-sum contract for ``text_quality_psi``
    independently of the DuckDB oracle: each bin's
    (p−q)·ln((p+ε)/(q+ε)) term quantizes to a 1e-6-unit long BEFORE
    the per-source sum, reproduced here from the spec in pure Python
    (the oracle differential alone cannot catch a contract BOTH
    engines drift on together)."""
    from parquet_stream_writer_spark.operators.text import (
        _PSI_EPS,
        text_quality_psi,
    )

    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(12)]
    n = 240
    sources = rng.choice(["crawl", "wiki", "forum"], n)
    texts = [
        " ".join(rng.choice(vocab, rng.integers(1, 30)))
        for _ in range(n)
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": ["en"] * n,
            "source": sources,
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = _write(tmp_path, "documents", pdf)
    got = {
        r.source: (r.n_docs, r.psi)
        for r in text_quality_psi(spark, sf).collect()
    }

    # Free model from the spec: distinct-token ratio → decile bin,
    # per-source zero-filled grid over the bins PRESENT in the corpus,
    # global shares q_b, then the quantized-term integer sum.
    # Exact-equality pin couples JVM Math.log to CPython math.log at
    # the floor boundary — the suite's standing convention (the
    # entropy/BM25 free models pin log2/ln the same way, stable for
    # 7+ rounds on this platform); a 1-ulp libm divergence at a
    # boundary would shift one term by 1e-6.
    def bin_of(t):
        toks = t.lower().split(" ")
        return min(9, math.floor(len(set(toks)) / len(toks) * 10))

    cells = {}
    for s, t in zip(sources, texts):
        b = bin_of(t)
        cells[(s, b)] = cells.get((s, b), 0) + 1
    n_s = {}
    for (s, _), c in cells.items():
        n_s[s] = n_s.get(s, 0) + c
    n_b = {}
    for (_, b), c in cells.items():
        n_b[b] = n_b.get(b, 0) + c
    total = sum(n_b.values())
    for s in n_s:
        term6 = 0
        for b in sorted(n_b):  # only bins with corpus presence join
            p = cells.get((s, b), 0) / n_s[s]
            q = n_b[b] / total
            term = (p - q) * math.log((p + _PSI_EPS) / (q + _PSI_EPS))
            term6 += math.floor(term * 1e6 + 0.5)
        assert got[s] == (n_s[s], float(_pr(term6 / 1e6, 6))), s


@pytest.mark.parametrize("seed", [0, 7, 1234])
def test_window_running_matches_python_free_model(spark, tmp_path, seed):
    """Pins the round-16 integer-cents frame contract for
    ``window_running`` independently of the DuckDB oracle: prices
    enter the frames as floor(p·100 + 0.5) longs, the cumulative sum
    and lag are cents/100, and the 3-row moving mean is
    floor(Σc/n + 0.5)/100 — reproduced from the spec in pure Python
    over duplicate order dates (tie-break regime) and .xx5 boundary
    prices (the half-cent hazard the old windowed float avg carried)."""
    from parquet_stream_writer_spark.operators.relational import window_running

    rng = np.random.default_rng(seed)
    n = 180
    custs = rng.integers(1, 9, n)
    dates = pd.to_datetime("1995-01-01") + pd.to_timedelta(
        rng.integers(0, 20, n), unit="D"
    )  # few distinct dates -> heavy (date) ties, orderkey breaks them
    prices = np.round(rng.uniform(0.01, 9000, n), 2)
    prices[::7] = np.round(prices[::7]) + 0.125  # off-grid adversaries
    prices[::11] = np.round(prices[::11]) + 0.005  # .xx5 boundaries
    pdf = pd.DataFrame(
        {
            "o_orderkey": np.arange(1, n + 1, dtype="int64"),
            "o_custkey": custs.astype("int64"),
            "o_orderstatus": ["O"] * n,
            "o_totalprice": prices,
            "o_orderdate": dates,
            "o_orderpriority": ["1-URGENT"] * n,
        }
    )
    sf = _write(tmp_path, "orders", pdf)
    got = {
        (r.o_custkey, r.o_orderkey): (
            r.running_total,
            r.prev_price,
            r.moving_avg3,
        )
        for r in window_running(spark, sf).collect()
    }
    assert len(got) == n

    cents = [math.floor(p * 100 + 0.5) for p in prices]
    for c in np.unique(custs):
        idx = [i for i in range(n) if custs[i] == c]
        idx.sort(key=lambda i: (dates[i], i + 1))
        run = 0
        for pos, i in enumerate(idx):
            run += cents[i]
            prev = cents[idx[pos - 1]] / 100.0 if pos > 0 else None
            frame = [cents[j] for j in idx[max(0, pos - 2) : pos + 1]]
            mov = math.floor(sum(frame) / len(frame) + 0.5) / 100.0
            g = got[(c, i + 1)]
            assert g[0] == run / 100.0, (c, i)
            assert (g[1] is None and prev is None) or g[1] == prev, (c, i)
            assert g[2] == mov, (c, i)


@pytest.mark.parametrize("seed", [0, 7, 1234])
def test_q20_matches_python_free_model(spark, tmp_path, seed):
    """Pins the round-16 centi-quantity contract for
    ``q20_excess_volume_supplier``: per-(part, supplier) sums of
    floor(q·100 + 0.5) longs, per-part mean floor(Σ/n + 0.5), and the
    cross-multiplied 2·qty_c > 3·avg_c threshold — reproduced from
    the spec in pure Python over FRACTIONAL quantities (the regime
    the integer-valued driver corpus never reaches, where the old
    float avg could sit on a rounding boundary)."""
    from parquet_stream_writer_spark.operators.relational import (
        q20_excess_volume_supplier,
    )

    rng = np.random.default_rng(seed)
    n_parts, n_supps, n_li = 12, 5, 400
    parts = pd.DataFrame(
        {
            "p_partkey": np.arange(1, n_parts + 1, dtype="int64"),
            "p_name": [
                ("red clay %d" % i) if i % 2 else ("blue sky %d" % i)
                for i in range(1, n_parts + 1)
            ],
            "p_brand": ["B"] * n_parts,
            "p_type": ["T"] * n_parts,
            "p_size": np.ones(n_parts, dtype="int32"),
            "p_retailprice": np.round(rng.uniform(1, 100, n_parts), 2),
        }
    )
    supps = pd.DataFrame(
        {
            "s_suppkey": np.arange(1, n_supps + 1, dtype="int64"),
            "s_name": [f"s{i}" for i in range(1, n_supps + 1)],
            "s_nationkey": np.zeros(n_supps, dtype="int32"),
            "s_acctbal": np.zeros(n_supps),
        }
    )
    qty = np.round(rng.uniform(0.25, 60, n_li), 2)
    qty[::9] = np.round(qty[::9]) + 0.005  # .xx5 boundary quantities
    li = pd.DataFrame(
        {
            "l_orderkey": np.arange(1, n_li + 1, dtype="int64"),
            "l_partkey": rng.integers(1, n_parts + 1, n_li).astype("int64"),
            "l_suppkey": rng.integers(1, n_supps + 1, n_li).astype("int64"),
            "l_linenumber": np.ones(n_li, dtype="int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(rng.uniform(1, 1000, n_li), 2),
            "l_discount": np.zeros(n_li),
            "l_tax": np.zeros(n_li),
            "l_returnflag": ["N"] * n_li,
            "l_linestatus": ["O"] * n_li,
            "l_shipdate": pd.to_datetime(["1995-06-01"] * n_li),
        }
    )
    sf = _write(tmp_path, "part", parts)
    _write(tmp_path, "supplier", supps)
    _write(tmp_path, "lineitem", li)
    got = {
        r.s_suppkey: r.n_excess_parts
        for r in q20_excess_volume_supplier(spark, sf).collect()
    }

    red = {
        int(k)
        for k, name in zip(parts.p_partkey, parts.p_name)
        if "red" in name
    }
    qty_c: dict = {}
    for pk, sk, q in zip(li.l_partkey, li.l_suppkey, qty):
        if int(pk) in red:
            key = (int(pk), int(sk))
            qty_c[key] = qty_c.get(key, 0) + math.floor(q * 100 + 0.5)
    by_part: dict = {}
    for (pk, _), qc in qty_c.items():
        by_part.setdefault(pk, []).append(qc)
    avg_c = {
        pk: math.floor(sum(v) / len(v) + 0.5) for pk, v in by_part.items()
    }
    expect: dict = {}
    for (pk, sk), qc in qty_c.items():
        if qc * 2 > avg_c[pk] * 3:
            expect[sk] = expect.get(sk, 0) + 1
    assert got == expect and len(expect) > 0


# ---------------------------------------------------------------------------
# Round-17 ledger repairs: Python free models for the similarity-module
# integer-sum migrations (kmeans / PQ / int8), the last two TPC-H double
# avgs (q2 / q17), and the _pair_blocks pmod contract — each reproduces
# the quantize-before-reduce spec from scratch over FRACTIONAL, off-grid
# inputs (the regime the driver corpus never reaches).
# ---------------------------------------------------------------------------

def _emb_write(tmp_path, ids, mat, labels):
    pdf = pd.DataFrame(
        {
            "vec_id": np.asarray(ids, dtype="int64"),
            "embedding": [np.asarray(row, dtype="float64") for row in mat],
            "label": np.asarray(labels, dtype="int32"),
        }
    )
    return _write(tmp_path, "embeddings", pdf)


def _strict_fold_sqdist(x, c):
    # Spark: aggregate(zip_with(dd, c, (x,y)->(x-y)*(x-y)), 0.0, acc+e)
    # — a strict left fold; acc += term reproduces it bit-for-bit.
    acc = 0.0
    for a, b in zip(x, c):
        acc += (float(a) - float(b)) * (float(a) - float(b))
    return acc


def _int_mean(total, n, digits):
    # floor(Σq/n + 0.5) in 10^-digits units, then back to value space.
    return math.floor(float(total) / n + 0.5) / float(10**digits)


@pytest.mark.parametrize("seed", [0, 7, 1234])
def test_pair_topk_covers_negative_vec_ids(spark, tmp_path, seed):
    """Pins the round-17 ``_pair_blocks`` pmod contract: with NEGATIVE
    vec_ids, Spark's sign-following ``%`` would assign negative block
    ids, so two vectors sharing a negative block never meet in any
    block-pair group and their pair silently vanishes.  ``pmod`` keeps
    every block in 0..B−1; the global top-20 must equal the brute-force
    all-pairs answer over the full id range."""
    from parquet_stream_writer_spark.operators.similarity import (
        similarity_pair_topk,
    )

    rng = np.random.default_rng(seed)
    n = 30
    ids = np.arange(-15, 15, dtype="int64")
    mat = rng.standard_normal((n, 64))
    sf = _emb_write(tmp_path, ids, mat, np.zeros(n))
    got = [
        (r.v1, r.v2, r.sim) for r in similarity_pair_topk(spark, sf).collect()
    ]

    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norms, norms)
    sims = np.floor(sims * 10000.0 + 0.5) / 10000.0
    pairs = [
        (int(ids[i]), int(ids[j]), float(sims[i, j]))
        for i in range(n)
        for j in range(n)
        if ids[j] > ids[i]
    ]
    pairs.sort(key=lambda t: (-t[2], t[0], t[1]))
    assert got == pairs[:20]


def _km_assign(dd, cents):
    # argmin over (strict-fold dist, cid) — the row_number tie-break.
    out = {}
    for vid, x in dd.items():
        out[vid] = min(
            (_strict_fold_sqdist(x, c), cid) for cid, c in cents.items()
        )
    return out


def _km_update(dd, assign):
    groups: dict = {}
    for vid, (_, cid) in assign.items():
        groups.setdefault(cid, []).append(vid)
    cents = {}
    for cid, vids in groups.items():
        dim = len(dd[vids[0]])
        c = []
        for pos in range(dim):
            s6 = sum(math.floor(dd[v][pos] * 1e6 + 0.5) for v in vids)
            c.append(_int_mean(s6, len(vids), 6))
        cents[cid] = c
    return cents


@pytest.mark.parametrize("seed", [0, 7, 1234])
def test_kmeans_lloyd_matches_python_free_model(spark, tmp_path, seed):
    """Pins the round-17 integer-sum contract for
    ``embedding_kmeans_lloyd``: coordinates enter each centroid mean as
    floor(x·1e6 + 0.5) longs with mean floor(Σ/n + 0.5)/1e6, and the
    inertia sums floor(dist·1e4 + 0.5) longs reported as Σ/1e4 —
    reproduced from the spec in pure Python over off-grid fractional
    coordinates (driver embeddings are smooth floats; the old float
    AVG/SUM was order-dependent there)."""
    from parquet_stream_writer_spark.operators.similarity import (
        _KM_ITERS,
        _KM_K,
        embedding_kmeans_lloyd,
    )

    rng = np.random.default_rng(seed)
    n = 40
    mat = np.round(rng.uniform(-1, 1, (n, 64)), 7)  # off the 1e-6 grid
    mat[::5] = np.floor(mat[::5] * 1e6) / 1e6 + 0.0000005  # .5e-6 edges
    ids = np.arange(n, dtype="int64")
    sf = _emb_write(tmp_path, ids, mat, np.zeros(n))
    got = {
        r.cluster_id: (r.n_members, r.inertia)
        for r in embedding_kmeans_lloyd(spark, sf).collect()
    }

    dd = {int(i): [float(v) for v in mat[i]] for i in range(n)}
    cents = {int(i): dd[int(i)] for i in ids if i < _KM_K}
    for _ in range(_KM_ITERS):
        cents = _km_update(dd, _km_assign(dd, cents))
    final = _km_assign(dd, cents)
    expect: dict = {}
    for vid, (dist, cid) in final.items():
        cnt, s4 = expect.get(cid, (0, 0))
        expect[cid] = (cnt + 1, s4 + math.floor(dist * 1e4 + 0.5))
    expect = {c: (cnt, float(s4) / 10000.0) for c, (cnt, s4) in expect.items()}
    assert got == expect


@pytest.mark.parametrize("seed", [0, 7, 1234])
def test_pq_train_matches_python_free_model(spark, tmp_path, seed):
    """Pins the round-17 integer-sum contract for ``embedding_pq_train``
    — the k-means free model with the subspace key threaded through:
    per-(sub, cid, pos) means over floor(x·1e6 + 0.5) longs, distortion
    Σ floor(dist·1e4 + 0.5)/1e4 — over off-grid fractional subvectors."""
    from parquet_stream_writer_spark.operators.similarity import (
        _PQ_ITERS,
        _PQ_K,
        _PQ_M,
        _PQ_SUBDIM,
        embedding_pq_train,
    )

    rng = np.random.default_rng(seed)
    n = 40
    mat = np.round(rng.uniform(-1, 1, (n, 64)), 7)
    mat[::4] = np.floor(mat[::4] * 1e6) / 1e6 + 0.0000005
    ids = np.arange(n, dtype="int64")
    sf = _emb_write(tmp_path, ids, mat, np.zeros(n))
    got = {
        (r.subspace, r.code): (r.n_assigned, r.distortion)
        for r in embedding_pq_train(spark, sf).collect()
    }

    expect: dict = {}
    for sub in range(_PQ_M):
        sl = slice(sub * _PQ_SUBDIM, (sub + 1) * _PQ_SUBDIM)
        dd = {int(i): [float(v) for v in mat[i][sl]] for i in range(n)}
        cents = {int(i): dd[int(i)] for i in ids if i < _PQ_K}
        for _ in range(_PQ_ITERS):
            cents = _km_update(dd, _km_assign(dd, cents))
        final = _km_assign(dd, cents)
        agg: dict = {}
        for vid, (dist, cid) in final.items():
            cnt, s4 = agg.get(cid, (0, 0))
            agg[cid] = (cnt + 1, s4 + math.floor(dist * 1e4 + 0.5))
        for cid, (cnt, s4) in agg.items():
            expect[(sub, cid)] = (cnt, float(s4) / 10000.0)
    assert got == expect


@pytest.mark.parametrize("seed", [0, 7, 1234])
def test_quantize_int8_matches_python_free_model(spark, tmp_path, seed):
    """Pins the round-17 integer-sum contract for
    ``embedding_quantize_int8``: per-vector max reconstruction error
    enters the per-label mean as a floor(e·1e8 + 0.5) long with mean
    floor(Σe8/n + 0.5)/1e8; worst_err stays a rounded (order-free) MAX
    — reproduced from the spec over fractional coordinates."""
    from parquet_stream_writer_spark.operators.similarity import (
        embedding_quantize_int8,
    )

    rng = np.random.default_rng(seed)
    n = 60
    mat = rng.uniform(-2, 2, (n, 64))
    labels = rng.integers(0, 4, n)
    sf = _emb_write(tmp_path, np.arange(n, dtype="int64"), mat, labels)
    got = {
        r.label: (r.avg_max_err, r.worst_err, r.n_vectors)
        for r in embedding_quantize_int8(spark, sf).collect()
    }

    per_label: dict = {}
    for i in range(n):
        x = [float(v) for v in mat[i]]
        lo, hi = min(x), max(x)
        scale = (hi - lo) / 255.0
        max_err = max(
            abs(v - (math.floor((v - lo) / scale + 0.5) * scale + lo))
            for v in x
        )
        cnt, s8, worst = per_label.get(int(labels[i]), (0, 0, 0.0))
        per_label[int(labels[i])] = (
            cnt + 1,
            s8 + math.floor(max_err * 1e8 + 0.5),
            max(worst, max_err),
        )
    expect = {
        lab: (
            _int_mean(s8, cnt, 8),
            math.floor(worst * 1e8 + 0.5) / 1e8,
            cnt,
        )
        for lab, (cnt, s8, worst) in per_label.items()
    }
    assert got == expect


@pytest.mark.parametrize("seed", [0, 7, 1234])
def test_q2_matches_python_free_model(spark, tmp_path, seed):
    """Pins the round-17 unit-price contract for
    ``q2_min_cost_supplier``: each price/qty enters the catalog mean as
    a floor(u·1e4 + 0.5) long, the mean is floor(Σu4/n + 0.5)/1e4, and
    the min-per-part election plus equality join-back run on those
    exact-derived values — reproduced from the spec over fractional
    prices/quantities, including two suppliers with bit-identical rows
    so the min election must return BOTH (the tie the old float AVG
    could split)."""
    from parquet_stream_writer_spark.operators.relational import (
        q2_min_cost_supplier,
    )

    rng = np.random.default_rng(seed)
    n_parts, n_supps, n_li = 10, 6, 300
    parts = pd.DataFrame(
        {
            "p_partkey": np.arange(1, n_parts + 1, dtype="int64"),
            "p_name": [f"part {i}" for i in range(1, n_parts + 1)],
            "p_brand": ["B"] * n_parts,
            "p_type": ["T"] * n_parts,
            # roughly half survive the p_size >= 40 gate
            "p_size": rng.integers(10, 70, n_parts).astype("int32"),
            "p_retailprice": np.round(rng.uniform(1, 100, n_parts), 2),
        }
    )
    supps = pd.DataFrame(
        {
            "s_suppkey": np.arange(1, n_supps + 1, dtype="int64"),
            "s_name": [f"s{i}" for i in range(1, n_supps + 1)],
            # nations 0/1 are ASIA, 2 is not
            "s_nationkey": (np.arange(n_supps) % 3).astype("int32"),
            "s_acctbal": np.zeros(n_supps),
        }
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.array([0, 1, 2], dtype="int32"),
            "n_name": ["CHINA", "JAPAN", "FRANCE"],
            "n_regionkey": np.array([0, 0, 1], dtype="int32"),
        }
    )
    region = pd.DataFrame(
        {
            "r_regionkey": np.array([0, 1], dtype="int32"),
            "r_name": ["ASIA", "EUROPE"],
        }
    )
    price = np.round(rng.uniform(1, 2000, n_li), 2)
    qty = np.round(rng.uniform(0.5, 50, n_li), 2)  # fractional unit prices
    pk = rng.integers(1, n_parts + 1, n_li).astype("int64")
    sk = rng.integers(1, n_supps + 1, n_li).astype("int64")
    # Force a min tie: suppliers 1 and 2 get bit-identical rows on part 1
    # and nothing else on it, so both must be elected by the join-back.
    pk[:8], sk[:4], sk[4:8] = 1, 1, 2
    price[4:8], qty[4:8] = price[:4], qty[:4]
    mask = (pk == 1) & (np.arange(n_li) >= 8)
    pk[mask] = 2
    li = pd.DataFrame(
        {
            "l_orderkey": np.arange(1, n_li + 1, dtype="int64"),
            "l_partkey": pk,
            "l_suppkey": sk,
            "l_linenumber": np.ones(n_li, dtype="int32"),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.zeros(n_li),
            "l_tax": np.zeros(n_li),
            "l_returnflag": ["N"] * n_li,
            "l_linestatus": ["O"] * n_li,
            "l_shipdate": pd.to_datetime(["1995-06-01"] * n_li),
        }
    )
    sf = _write(tmp_path, "part", parts)
    _write(tmp_path, "supplier", supps)
    _write(tmp_path, "nation", nation)
    _write(tmp_path, "region", region)
    _write(tmp_path, "lineitem", li)
    got = [
        (r.p_partkey, r.p_name, r.s_name, r.nation, r.unit_price)
        for r in q2_min_cost_supplier(spark, sf).collect()
    ]

    keep = {
        int(k) for k, s in zip(parts.p_partkey, parts.p_size) if s >= 40
    }
    cat: dict = {}
    for i in range(n_li):
        if int(pk[i]) not in keep:
            continue
        u4 = math.floor((float(price[i]) / float(qty[i])) * 1e4 + 0.5)
        cnt, s = cat.get((int(pk[i]), int(sk[i])), (0, 0))
        cat[(int(pk[i]), int(sk[i]))] = (cnt + 1, s + u4)
    unit = {key: _int_mean(s, cnt, 4) for key, (cnt, s) in cat.items()}
    best: dict = {}
    for (p, _), u in unit.items():
        best[p] = min(best.get(p, u), u)
    names = dict(zip(parts.p_partkey, parts.p_name))
    asia = {
        int(r.s_suppkey): nation.n_name[int(r.s_nationkey)]
        for r in supps.itertuples()
        if int(nation.n_regionkey[int(r.s_nationkey)]) == 0
    }
    rows = [
        (p, names[p], f"s{s}", asia[s], u)
        for (p, s), u in unit.items()
        if u == best[p] and s in asia
    ]
    rows.sort(key=lambda t: (t[4], t[0], t[2]))
    assert got == rows[:10]
    # the engineered tie must actually be in play when part 1 survives
    if 1 in keep:
        assert len({s for (p, s) in unit if p == 1}) == 2
        assert len({u for (p, _), u in unit.items() if p == 1}) == 1


@pytest.mark.parametrize("seed", [0, 7, 1234])
def test_q17_matches_python_free_model(spark, tmp_path, seed):
    """Pins the round-17 centi-quantity contract for
    ``q17_small_quantity_revenue``: quantities enter the per-part
    window as floor(q·100 + 0.5) longs carrying the exact (Σq_c, n)
    pair, the 0.2·avg threshold is the cross-multiplied integer
    compare 5·q_c·n < Σq_c, and revenue is floor(Σcents/7 + 0.5)/100 —
    reproduced from the spec over FRACTIONAL quantities with .xx5
    boundary values (the regime where the old float window avg was
    only accidentally exact)."""
    from parquet_stream_writer_spark.operators.relational import (
        _Q17_BRANDS,
        q17_small_quantity_revenue,
    )

    rng = np.random.default_rng(seed)
    n_parts, n_li = 8, 400
    brands = [
        _Q17_BRANDS[i % len(_Q17_BRANDS)] if i % 2 else "Brand#99"
        for i in range(n_parts)
    ]
    parts = pd.DataFrame(
        {
            "p_partkey": np.arange(1, n_parts + 1, dtype="int64"),
            "p_name": [f"part {i}" for i in range(1, n_parts + 1)],
            "p_brand": brands,
            "p_type": ["T"] * n_parts,
            "p_size": np.ones(n_parts, dtype="int32"),
            "p_retailprice": np.round(rng.uniform(1, 100, n_parts), 2),
        }
    )
    qty = np.round(rng.uniform(15, 60, n_li), 2)
    qty[::10] = np.round(rng.uniform(0.25, 4, len(qty[::10])), 2)  # outliers
    qty[::9] = np.round(qty[::9]) + 0.005  # .xx5 boundary quantities
    price = np.round(rng.uniform(10, 1000, n_li), 2)
    price[::7] = np.round(price[::7]) + 0.005
    pk = rng.integers(1, n_parts + 1, n_li).astype("int64")
    li = pd.DataFrame(
        {
            "l_orderkey": np.arange(1, n_li + 1, dtype="int64"),
            "l_partkey": pk,
            "l_suppkey": np.ones(n_li, dtype="int64"),
            "l_linenumber": np.ones(n_li, dtype="int32"),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.zeros(n_li),
            "l_tax": np.zeros(n_li),
            "l_returnflag": ["N"] * n_li,
            "l_linestatus": ["O"] * n_li,
            "l_shipdate": pd.to_datetime(["1995-06-01"] * n_li),
        }
    )
    sf = _write(tmp_path, "part", parts)
    _write(tmp_path, "lineitem", li)
    got = [
        (r.p_brand, r.avg_yearly)
        for r in q17_small_quantity_revenue(spark, sf).collect()
    ]

    brand_of = dict(zip(parts.p_partkey, parts.p_brand))
    sums: dict = {}
    for i in range(n_li):
        qc = math.floor(float(qty[i]) * 100 + 0.5)
        cnt, s = sums.get(int(pk[i]), (0, 0))
        sums[int(pk[i])] = (cnt + 1, s + qc)
    rev: dict = {}
    for i in range(n_li):
        b = brand_of[int(pk[i])]
        if b not in _Q17_BRANDS:
            continue
        qc = math.floor(float(qty[i]) * 100 + 0.5)
        n_q, s_qc = sums[int(pk[i])]
        if 5 * qc * n_q < s_qc:
            rev[b] = rev.get(b, 0) + math.floor(float(price[i]) * 100 + 0.5)
    expect = sorted(
        (b, math.floor(float(c) / 7.0 + 0.5) / 100.0) for b, c in rev.items()
    )
    assert got == expect and len(expect) > 0


def test_q5_revenue_is_exact_at_the_half_cent(spark, tmp_path):
    """``q5_local_supplier_volume`` and its oracle sum revenue exactly
    (DECIMAL), so the half-cent rounding cannot depend on the order the
    rows are summed in. The six hand-picked terms sum to exactly
    34696.355; summed as doubles they round to .35 in 82% of the 720
    orders (file order included) and to .36 in the rest."""
    import duckdb

    from parquet_stream_writer_spark.operators.relational import (
        ORACLE_Q5,
        q5_local_supplier_volume,
    )

    prices = [8973.64, 1278.16, 8065.25, 2191.94, 5983.59, 9217.24]
    discounts = [0.06, 0.03, 0.04, 0.01, 0.0, 0.01]
    float_sum = 0.0
    for p, d in zip(prices, discounts):
        float_sum += p * (1 - d)
    assert math.floor(float_sum * 100 + 0.5) / 100 == 34696.35  # the trap is armed

    n = len(prices)
    dims = {
        "customer": pd.DataFrame(
            {"c_custkey": np.array([1], dtype="int64"), "c_name": ["c1"],
             "c_nationkey": np.array([0], dtype="int32"), "c_acctbal": [0.0],
             "c_mktsegment": ["BUILDING"]}
        ),
        "supplier": pd.DataFrame(
            {"s_suppkey": np.array([1], dtype="int64"), "s_name": ["s1"],
             "s_nationkey": np.array([0], dtype="int32"), "s_acctbal": [0.0]}
        ),
        "nation": pd.DataFrame(
            {"n_nationkey": np.array([0], dtype="int32"), "n_name": ["CHINA"],
             "n_regionkey": np.array([0], dtype="int32")}
        ),
        "region": pd.DataFrame(
            {"r_regionkey": np.array([0], dtype="int32"), "r_name": ["ASIA"]}
        ),
        "orders": pd.DataFrame(
            {"o_orderkey": np.arange(1, n + 1, dtype="int64"),
             "o_custkey": np.ones(n, dtype="int64"), "o_orderstatus": ["O"] * n,
             "o_totalprice": np.zeros(n),
             "o_orderdate": pd.to_datetime(["1996-06-01"] * n),
             "o_orderpriority": ["1-URGENT"] * n}
        ),
    }
    for variant, order in (("forward", range(n)), ("reversed", range(n)[::-1])):
        root = tmp_path / variant
        root.mkdir()
        li = pd.DataFrame(
            {
                # keys ascend in file order, so a key-sorted join keeps it
                "l_orderkey": np.arange(1, n + 1, dtype="int64"),
                "l_partkey": np.ones(n, dtype="int64"),
                "l_suppkey": np.ones(n, dtype="int64"),
                "l_linenumber": np.ones(n, dtype="int32"),
                "l_quantity": np.ones(n),
                "l_extendedprice": [prices[i] for i in order],
                "l_discount": [discounts[i] for i in order],
                "l_tax": np.zeros(n),
                "l_returnflag": ["N"] * n,
                "l_linestatus": ["O"] * n,
                "l_shipdate": pd.to_datetime(["1996-07-01"] * n),
            }
        )
        sf = _write(root, "lineitem", li)
        for name, pdf in dims.items():
            _write(root, name, pdf)
        got = [(r.n_name, r.revenue) for r in q5_local_supplier_volume(spark, sf).collect()]
        assert got == [("CHINA", 34696.36)], variant
        con = duckdb.connect()
        for name in ["lineitem", *dims]:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf}/{name}.parquet')")
        assert con.sql(ORACLE_Q5).fetchall() == [("CHINA", 34696.36)], variant
        con.close()
