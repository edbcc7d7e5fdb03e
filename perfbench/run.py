#!/usr/bin/env python3
"""serd_spark benchmark: the real KG job, KG reads and streaming ingest.

Usage (from the repository root):

    python3 perfbench/run.py --workload turtle_skewed --seed 1 \\
        --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, runs them through the
engine's public API at ``local[nproc]``, measures for ``--seconds``,
checks the outputs, and prints — as the last line of stdout — one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` reports its per-layer metrics from a traced run.  The
line before it records the box (nproc, calibration probe before and
after, Spark/pyarrow versions, commit) and workload details.  See
``perfbench/README.md`` for every metric's definition.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("serd_spark", "__spark_entry__.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            print(f"perfbench: {need} not found in {root}; run from the "
                  f"repository root", file=sys.stderr)
            return 2
    sys.path.insert(0, root)

    from perfbench import common, inputs
    from perfbench.workloads import WORKLOADS

    spec = _load_spec(root)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose "
              f"from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    common.reset_workdir()
    try:
        inputs.check_pins()
        probe_before = common.calibration_probe()
        res = WORKLOADS[args.workload](args.seed, args.seconds,
                                       bool(args.trace))
        probe_after = common.calibration_probe()
    finally:
        common.shutdown_jvm()
        common.remove_workdir()

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = res.metrics.get(m["name"])
        if v is None:
            if not args.trace:
                print(f"perfbench: workload did not measure "
                      f"{m['name']}", file=sys.stderr)
                return 3
            v = 0.0  # layer not exercised by this workload
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}

    common.emit({"workload": args.workload, "seed": args.seed,
                 "trace": args.trace,
                 "box": common.box_record(probe_before, probe_after),
                 "info": res.info})
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": res.failed == 0,
                      "attempted": res.attempted,
                      "failed": res.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
