"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json and README.md in this directory):
  kg_batch        batch knowledge-graph build from a parquet transcript table
  rest_recognize  HTTP /recognize on the REST server under an open loop

Inputs are generated from --seed and cached per (workload, seed, size) under
.bench_work/ in the checkout. Every run checks the program's outputs. The
last line of standard output is one JSON object: correct, attempted, failed
and metrics (the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer metrics with --trace 1; a layer the workload does not reach reads 0).
--tiny runs each workload at about a hundred turns, for the smoke test.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, emit, log, setup_env  # noqa: E402

WORKLOADS = ("kg_batch", "rest_recognize")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "nametag_spark")):
        log(f"the program (nametag_spark/) is missing from {ROOT}")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    setup_env()

    if args.workload == "rest_recognize":
        from rest import rest_recognize as fn
    else:
        from kg import kg_batch as fn
    attempted, failed, values = fn(args.seed, args.seconds, bool(args.trace), args.tiny)

    metrics = {}
    for m in spec["per_layer" if args.trace else "end_to_end"]:
        v = values.pop(m["name"], None)
        if v is None:
            if not args.trace:
                raise KeyError(f"workload did not measure {m['name']}")
            v = 0  # layer not on this workload's path
        metrics[m["name"]] = (v, m["unit"])
    if values:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(values)}")
    emit(attempted, failed, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
