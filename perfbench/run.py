"""Benchmark entry point.

    python3 perfbench/run.py --workload store_mix --seed 1 --seconds 4 --trace 0

Runs one workload of ``BENCHMARK.json`` against the ``topic_store_spark``
package of this checkout, checks every result against a pure-Python
reference, prints a table of the metrics, and prints as its last line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``).  Exits non-zero, printing no result, when the package is
missing or the run breaks.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import sys
import time

import harness
import spans

WORKLOADS = ("store_mix", "capture_replay", "corpus_build")


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _fmt(value: float) -> str:
    return f"{value:.4g}" if isinstance(value, float) else str(value)


def report(workload: str, result: harness.Result, wanted: dict[str, str],
           traced: bool) -> dict:
    """Print the human-readable tables; return the JSON ``metrics``."""
    log = result.log
    out = sys.stdout
    print(f"== {workload}: {len(log.ops)} operations, {log.failed()} failed "
          f"({log.wrong} wrong answers)", file=out)
    for name, value, unit, info in (
        [(k, v, u, "") for k, (v, u) in result.metrics.items()]
        + result.notes
        + [("error_rate", log.failed() / max(1, len(log.ops)), "ratio",
            f"{log.failed()}/{len(log.ops)}")]
    ):
        print(f"  {name:<28}{_fmt(value):>14} {unit:<6} {info}", file=out)
    for what, n in sorted(log.errors().items()):
        print(f"  failed x{n}: {what}", file=out)
    kinds: dict[str, list[float]] = {}
    for op in log.ops:
        if op.error is None:
            kinds.setdefault(op.kind, []).append(1000 * op.seconds)
    print("  latency by kind (ms): " + ", ".join(
        f"{k} {harness.median(v):.0f} (n={len(v)})" for k, v in sorted(kinds.items())),
        file=out)

    source = result.layers if traced else result.metrics
    metrics = {}
    for name, unit in wanted.items():
        value, got_unit = source.get(name, (0.0, unit))
        if got_unit != unit:
            raise ValueError(f"{name}: unit {got_unit} != declared {unit}")
        metrics[name] = {"value": value, "unit": unit}
    unknown = set(source) - set(wanted)
    if unknown:
        raise ValueError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    if traced:
        print("-- per-layer metrics (0 where the workload bypasses the layer)", file=out)
        for name, m in metrics.items():
            print(f"  {name:<32}{_fmt(m['value']):>14} {m['unit']}", file=out)
        if result.tracer is not None:
            spans.print_layer_table(result.tracer, result.jobs, out)
    return metrics


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", choices=WORKLOADS, required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    e2e, per_layer = declared_metrics()
    try:
        harness.prepare_env()
    except harness.MissingProgram as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    workload = importlib.import_module(args.workload)
    harness.redirect_checkpoints()
    steal0, total0 = harness.cpu_ticks()
    spark, session_s = harness.start_spark()
    try:
        with harness.phase(args.workload):
            result = workload.run(spark, session_s, args.seed, args.seconds,
                                  bool(args.trace))
        python_mb, jvm_mb = harness.peak_rss_mb(spark)
        result.metrics["peak_rss_mb"] = (python_mb + jvm_mb, "MB")
        result.note("peak_rss_jvm_mb", jvm_mb, "MB", f"python {python_mb:.0f} MB")
        steal1, total1 = harness.cpu_ticks()
        result.note("host_cpu_steal_pct", 100 * (steal1 - steal0) / max(1, total1 - total0),
                    "%", "of this machine's CPU time, over the run")
    finally:
        with harness.phase("shutdown"):
            harness.shutdown(spark)

    metrics = report(args.workload, result, per_layer if args.trace else e2e,
                     bool(args.trace))
    if result.tracer is not None:
        os.makedirs(harness.OUT, exist_ok=True)
        result.tracer.write(os.path.join(
            harness.OUT, f"spans-{args.workload}-{args.seed}-{int(time.time())}.json"))
    bad = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
    if bad:
        print(f"perfbench: no value measured for {bad}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": result.log.wrong == 0,
        "attempted": len(result.log.ops),
        "failed": result.log.failed(),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
