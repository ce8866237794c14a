"""Benchmark of the wilayah-spark engine (see BENCHMARK.json).

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (each in one process, on local[nproc/2], one closed-loop
client; inputs are generated from the seed):
  pipeline_sf0.1      three bench-tagged registered queries (semantic
                      dedup, MinHash dedup, DSIR selection), each run
                      cold, checked against their DuckDB oracles
                      (pipeline.py)
  wilayah_sync_serve  seed + full sync of a synthetic GeoJSON corpus,
                      then a read-heavy mix of search / status /
                      envelope / by-level reads and kabupaten syncs,
                      checked against the generator's ground truth
                      (wilayah.py)

With --trace 0 the last line of stdout carries the end-to-end metrics;
with --trace 1 the workload also runs a traced pass and the last line
carries the per-layer metrics instead (a layer the workload never
calls reports 0). The line before it is a detail record: the
workload's own metrics with sample counts, every failure with its
phase and error, the calibration probe and the environment.

Exits 2 without a result when the engine package is not beside this
directory.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import E2E_METRICS, LAYER_METRICS, PACKAGE, ROOT, Run  # noqa: E402

WORKLOADS = {"pipeline_sf0.1": "pipeline", "wilayah_sync_serve": "wilayah"}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE}/ not found in {ROOT}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its scratch tree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    r = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    r.prepare()
    workload = importlib.import_module(WORKLOADS[args.workload])
    try:
        workload.run(r)
        r.detail["calibration_probe_s"] = r.calibrate()
        r.detail["env"] = r.environment()
    finally:
        r.stop()

    catalogue = LAYER_METRICS if r.trace else E2E_METRICS
    missing = sorted(set(E2E_METRICS) - set(r.metrics)) if not r.trace else []
    if missing:
        raise RuntimeError(f"workload did not measure {missing}")
    metrics = {
        name: {"value": r.metrics.get(name, (0.0, unit))[0], "unit": unit}
        for name, unit in catalogue.items()
    }
    failed = r.failed_ops
    r.detail["failures"] = [
        {"op": op.kind, "pass": op.pass_no, "error": op.error} for op in failed
    ]
    print(json.dumps({"detail": {"workload": r.workload, "seed": r.seed, **r.detail}}, default=str))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(r.ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
