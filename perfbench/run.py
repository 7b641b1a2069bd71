"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_cascade --seed 1 --seconds 10 --trace 0

Runs one workload on inputs generated from ``--seed`` at
``local[<cores of this process>]``, checks every output against an
independent reference, and prints as its last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics. A line before it,
prefixed ``report:``, carries the workload's own figures (the
per-workload names of the end-to-end metrics, every sample, and the
failure ledger). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

WORKLOADS = ("ingest_cascade", "stored_pipeline")


def declared_metrics(section: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


class Ctx:
    """One run: its arguments, the failure ledger and the metrics."""

    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.cores = harness.ncores()
        self.tracer = harness.Tracer(f"{args.workload}-{args.seed}", bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, int] = {}
        self.setup_s = 0.0
        self.rss_mb = 0.0
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {k: 0.0 for k in declared_metrics("per_layer")}
        self.report: dict = {"cores": self.cores}

    def op(self, ok: bool, what: str) -> None:
        """Count one attempted operation; a failed output check fails it."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures[what] = self.failures.get(what, 0) + 1

    def e2e(self, **metrics: float) -> None:
        self.metrics.update(metrics)
        self.metrics["setup_s"] = self.setup_s
        self.metrics["peak_rss_mb"] = self.rss_mb

    def repeat_check(self, per_op: list) -> None:
        """Which deterministic work counters repeat exactly across the
        traced repetitions of the workload's main operation."""
        counters = {
            "rows_per_operator": [m.rows_by_node() for m in per_op],
            "exchange_count": [m.hash_exchanges for m in per_op],
            "rows_to_python": [m.python_rows for m in per_op],
            "shuffle_bytes": [m.shuffle_write_bytes for m in per_op],
        }
        exact = sorted(k for k, v in counters.items() if all(x == v[0] for x in v))
        self.layer["trace.counts_checked"] = len(counters)
        self.layer["trace.counts_repeat_exact"] = len(exact)
        self.report["counts_repeat_exact"] = exact
        self.report["counts_vary"] = sorted(set(counters) - set(exact))


def _module(workload: str):
    import importlib

    return importlib.import_module(
        {"ingest_cascade": "ingest", "stored_pipeline": "pipeline"}[workload]
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(harness.ROOT, "mintpy_spark", "__init__.py")):
        print(f"no mintpy_spark package under {harness.ROOT}", file=sys.stderr)
        return 2
    harness.prepare_env()
    sys.path.insert(0, harness.ROOT)
    ctx = Ctx(args)
    mod = _module(args.workload)
    steal0, total0 = harness.cpu_ticks()
    try:
        (mod.trace if args.trace else mod.run)(ctx)
    finally:
        harness.shutdown_jvm()
        harness.cleanup_work()
    if args.trace:
        spans = os.path.join(harness.OUT, f"spans-{args.workload}-{args.seed}.jsonl")
        ctx.tracer.write(spans)
        ctx.report["spans"] = os.path.relpath(spans, harness.ROOT)
        values, section = ctx.layer, "per_layer"
    else:
        values, section = ctx.metrics, "end_to_end"
    metrics = {k: {"value": float(values[k]), "unit": u}
               for k, u in declared_metrics(section).items()}
    steal1, total1 = harness.cpu_ticks()
    ctx.report["cpu_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
    ctx.report["failed_ops_ratio"] = ctx.failed / max(ctx.attempted, 1)
    ctx.report["failures"] = ctx.failures
    print("report: " + json.dumps(ctx.report, default=float))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        sys.exit(1)
