"""Benchmark entry point.

    python3 perfbench/run.py --workload retail_daily --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Prints progress on
stderr and, as the last line of stdout, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with ``--trace 1``.
Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

PROCESS_START = time.perf_counter()

CHECKOUT = os.getcwd()
# import the benchmark as the ``perfbench`` package, never its modules bare
if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
    sys.path.pop(0)
sys.path.insert(0, CHECKOUT)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(CHECKOUT, "retail_aws_etl_pipeline_spark")):
        print("perfbench: run from the root of a repository checkout "
              "(retail_aws_etl_pipeline_spark/ not found)", file=sys.stderr)
        return 2
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench import harness, layers
    from perfbench.stats import median
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    generate, run = WORKLOADS[args.workload]
    work = os.path.join(CHECKOUT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    h = None
    try:
        harness.prepare_environment(CHECKOUT, work)
        inputs = generate(args.seed, work)
        harness.log("inputs generated")
        h = harness.Harness(work, trace=bool(args.trace))
        h.setup(time.perf_counter())
        if args.trace:
            h.tracer.install_program_spans()
        measured = run(h, inputs, work, args.seconds)
        harness.log("measured")
        h.tracer.unwrap()
        if args.trace:
            values = layers.per_layer(h, measured)
        else:
            values = dict(measured.end_to_end(), setup_s=median(h.setup_samples))
        h.stop()
        harness.log("stopped")
        if args.trace:
            layers.fold_event_log(h, values)
            record = os.path.join(CHECKOUT, ".perfbench_out", f"{args.workload}-seed{args.seed}")
            os.makedirs(os.path.dirname(record), exist_ok=True)
            h.tracer.dump(record + ".spans.jsonl")
            with open(record + ".layers.json", "w") as f:
                json.dump(values, f, indent=1, sort_keys=True)
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        metrics = {}
        for m in wanted:
            if m["name"] not in values and not args.trace:
                raise KeyError(f"workload did not measure {m['name']}")
            metrics[m["name"]] = {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
        result = {
            "correct": h.failed == 0,
            "attempted": h.attempted,
            "failed": h.failed,
            "metrics": metrics,
        }
    finally:
        if h is not None:
            h.stop()
        shutil.rmtree(work, ignore_errors=True)
    harness.log(f"run wall {time.perf_counter() - PROCESS_START:.1f} s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
