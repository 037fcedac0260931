"""Shared plumbing for the benchmark workloads: run environment, work
directory, statistics, the host-load bracket and the result record."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

#: The checkout root: the benchmark lives in ``<root>/perfbench``.
ROOT = Path(__file__).resolve().parent.parent
#: Scratch space for inputs and outputs of a run; removed when it ends.
WORK_ROOT = ROOT / ".perfbench_work"
#: Per-run logs (full metrics, host bracket, spans); kept for inspection.
LOG_ROOT = ROOT / ".perfbench_runs"


def harden_env(workdir: Path) -> dict[str, str]:
    """Pin the environment every workload runs under and return what
    was pinned, for the run log.

    - ``SPARK_GRAFT_CPUS`` = the host's core count, so Spark runs at
      ``local[nproc]`` whatever the caller's shell exports.
    - ``SPARK_GRAFT_MEMO_DIR`` is removed: it persists dedup mining
      results across processes, which would turn a timed pass into a
      cache read.
    - the checkout root goes on ``PYTHONPATH``: Spark's Python workers
      (``mapInPandas``, UDFs) are separate processes that must import
      the package too.
    - temporary files of Python, the JVM and Spark go under the run's
      work directory, and the JVM keeps no perf-data file in ``/tmp``,
      so a run writes only inside its checkout.
    """
    tmp = workdir / "tmp"
    local = workdir / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_MEMO_DIR", None)
    pinned = {
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
        # spark-submit first runs a launcher JVM of its own.
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYARROW_IGNORE_TIMEZONE": "1",
    }
    os.environ.update(pinned)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return pinned


def make_workdir(workload: str, seed: int) -> Path:
    path = WORK_ROOT / f"{workload}-s{seed}-p{os.getpid()}"
    if path.exists():
        shutil.rmtree(path)
    path.mkdir(parents=True)
    return path


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- statistics -------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) — always an observed
    sample, so a tail figure is a latency some operation really had."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM
    to exit (it exits once its standard input closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- host-load bracket ------------------------------------------------------


def python_probe() -> float:
    """Fixed single-core CPU probe: a 5M-iteration Python loop."""
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i
    return time.perf_counter() - t0


def spark_probe(spark) -> float:
    """Fixed parallel probe: one ``noop`` job of ``nproc`` tasks, 1M
    longs each (the shape ``bench.py`` uses to spot a congested host)."""
    n = int(os.environ["SPARK_GRAFT_CPUS"])
    t0 = time.perf_counter()
    spark.range(0, n * 1_000_000, 1, n).write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def _steal_ticks() -> int | None:
    """Cumulative CPU time the hypervisor gave to other guests (Linux
    ``/proc/stat``, clock ticks); None where unavailable."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8])
    except (OSError, IndexError, ValueError):
        return None


def host_bracket(spark=None) -> dict[str, float]:
    """One side of the load bracket recorded around each run. It is
    not a metric: it lets a noisy run be recognised afterwards."""
    load1, load5, _ = os.getloadavg()
    out = {
        "loadavg_1m": load1,
        "loadavg_5m": load5,
        "steal_ticks": _steal_ticks(),
        "python_probe_s": python_probe(),
    }
    if spark is not None:
        out["spark_probe_s"] = spark_probe(spark)
    return out


# -- result -----------------------------------------------------------------


@dataclass
class Result:
    """What one run measured. ``end_to_end`` and ``per_layer`` map a
    metric name to (value, unit)."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    end_to_end: dict[str, tuple[float, str]] = field(default_factory=dict)
    per_layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    #: Workload-specific figures printed by name next to the result.
    detail: dict[str, tuple[float, str]] = field(default_factory=dict)
    extra: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        """Record a failed operation or a failed correctness check."""
        self.failed += 1
        self.failures.append(what)
        log(f"FAILED: {what}")

    @property
    def correct(self) -> bool:
        return self.failed == 0 and self.attempted > 0
