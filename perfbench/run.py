#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 8 --trace 0

Run from the repository root. With ``--trace 0`` the run reports the
end-to-end metrics (see ``perfbench/spec.py``); with ``--trace 1`` it
records spans and Spark's per-stage counters and reports the per-layer
metrics instead. Every metric is printed on its own line with its unit,
and the last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Spans of a traced
run are written to ``.perfbench/traces/``.

Exit status is 0 when the run completed (``correct`` says whether the
outputs matched), 2 when the engine cannot be imported, 1 on any other
error; only a completed run prints the JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _metrics(result: dict, peak_rss_mb: float, traced: bool) -> dict[str, dict]:
    from perfbench.spec import END_TO_END_UNITS, LAYER_METRICS

    if traced:
        layers = result["layers"]
        return {name: {"value": float(layers.get(name, 0.0)), "unit": unit} for name, (unit, _, _) in LAYER_METRICS.items()}
    values = dict(result, peak_rss_mb=peak_rss_mb)
    return {name: {"value": float(values[name]), "unit": unit} for name, unit in END_TO_END_UNITS.items()}


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    from perfbench import batch, measure, stream
    from perfbench.harness import Harness
    from perfbench.spec import WORKLOADS

    spec = WORKLOADS.get(args.workload)
    if spec is None:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 1
    try:
        import datafusion_streams_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    h = Harness(ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    module = batch if isinstance(spec, batch.BatchSpec) else stream
    try:
        with measure.RssSampler() as rss:
            result = module.run(h, spec, args.seed, args.seconds, bool(args.trace))
        peak_rss_mb = rss.peak_mb
    except Exception:
        traceback.print_exc()
        h.close()
        return 1
    alive = h.close()
    if alive:
        print(f"processes still running after shutdown: {alive}", file=sys.stderr)
        return 1

    tracer = result.pop("tracer", None)
    if tracer is not None:
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))

    metrics = _metrics(result, peak_rss_mb, bool(args.trace))
    attempted, failed = result["attempted"], result["failed"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for name, m in metrics.items():
        print(f"  {name:28s} {m['value']:.6g} {m['unit']}")
    print(f"  {'error_rate':28s} {failed / attempted:.6g} ({failed} of {attempted})")
    for key, value in result["notes"].items():
        print(f"  # {key}: {value}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
