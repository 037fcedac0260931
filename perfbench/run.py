"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload push_ingest --seed 1 --seconds 8 --trace 0

Workloads: ``push_ingest``, ``stream_ingest``, ``query_mix`` (see
README.md). Run from the checkout root. The last line of standard
output is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``: with ``--trace 0`` the metrics are the
end-to-end ones, measured untraced; with ``--trace 1`` the run measures
untraced for ``--seconds``, then again with spans recorded around the
package's public functions, and reports the per-layer metrics plus the
tracing overhead. Progress and every workload-specific figure go to
standard error; the full record of a run (host-load bracket, pinned
environment, spans) is written under ``.perfbench_runs/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # before the heavy imports: they are set-up

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

WORKLOADS = ("push_ingest", "stream_ingest", "query_mix")


@dataclass
class Context:
    seed: int
    seconds: float
    scale: str
    tracer: Tracer | None
    workdir: Path
    t0: float


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale",
        choices=("full", "tiny"),
        default="full",
        help="tiny: minute inputs, for the benchmark's own smoke test",
    )
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    manifest = json.loads((common.ROOT / "BENCHMARK.json").read_text())
    workdir = common.make_workdir(args.workload, args.seed)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    try:
        pinned = common.harden_env(workdir)
        os.chdir(workdir)  # Spark's warehouse and metastore land here
        module = importlib.import_module(f"perfbench.{args.workload}")
        ctx = Context(
            seed=args.seed,
            seconds=args.seconds,
            scale=args.scale,
            tracer=Tracer(run_id) if args.trace else None,
            workdir=workdir,
            t0=T0,
        )
        res = module.run(ctx)
    finally:
        os.chdir(common.ROOT)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            common.WORK_ROOT.rmdir()  # only once no other run is using it
        except OSError:
            pass

    fail_ratio = res.failed / max(1, res.attempted)
    res.detail["fail_ratio"] = (fail_ratio, "ratio")
    if args.trace:
        res.per_layer["fail_ratio"] = (fail_ratio, "ratio")
        # Every named per-layer metric is reported; a layer this
        # workload does not load reads 0.
        for m in manifest["per_layer"]:
            res.per_layer.setdefault(m["name"], (0, m["unit"]))
        metrics = {m["name"]: res.per_layer[m["name"]] for m in manifest["per_layer"]}
    else:
        metrics = {m["name"]: res.end_to_end[m["name"]] for m in manifest["end_to_end"]}
    for name, (value, unit) in {**res.end_to_end, **res.detail, **res.per_layer}.items():
        print(f"{name:44s} {value:14.6g} {unit}", file=sys.stderr)
    print(f"attempted={res.attempted} failed={res.failed} fail_ratio={fail_ratio:.6g}", file=sys.stderr)

    common.LOG_ROOT.mkdir(exist_ok=True)
    record = {
        "run_id": run_id,
        "args": vars(args),
        "env": pinned,
        "attempted": res.attempted,
        "failed": res.failed,
        "failures": res.failures[:50],
        "end_to_end": res.end_to_end,
        "detail": res.detail,
        "per_layer": res.per_layer,
        **res.extra,
    }
    (common.LOG_ROOT / f"{run_id}.json").write_text(json.dumps(record, indent=1, default=str))
    if ctx.tracer is not None:
        ctx.tracer.write(common.LOG_ROOT / f"{run_id}.spans.jsonl")
        for name, (calls, incl, self_s) in sorted(ctx.tracer.totals().items()):
            print(f"span {name:42s} calls={calls:7d} incl={incl:9.4f}s self={self_s:9.4f}s", file=sys.stderr)

    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
