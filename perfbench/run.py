"""Benchmark entry point.  Run from the repository root:

    python3 perfbench/run.py --workload ingest|tag --seed N --seconds S --trace 0|1

Builds the workload's inputs from the seed, runs it against the
``neuroner_spark`` package of the current directory on local[4], checks
every output and prints, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"} — the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  The line before it holds the run's detail (set-up
parts, fingerprints, request counts, host-load probes, errors).

All scratch (inputs, stores, Spark local dirs, temp files) lives in
``.perfbench_work/`` under the current directory and is deleted on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "neuroner_spark", "__init__.py")):
        print("perfbench: run from a checkout that holds neuroner_spark/", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # set before the JVM and its Python workers start: they inherit it
    os.environ.update(
        {
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "PYTHONPATH": os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
            # one BLAS thread in the driver, as the scaling scripts pin it
            "OPENBLAS_NUM_THREADS": "1",
            "OMP_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
        }
    )
    sys.path[:0] = [root]
    from perfbench.workloads import WORKLOADS, Run, probe_once

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        probes = [probe_once()]
        out = WORKLOADS[args.workload](run)
        probes.append(probe_once())
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
    run.detail.update(
        {"e2e": out["metrics"], "probe_s": probes, "errors": run.errors[:20]}
    )
    if args.trace:
        # layers a workload never calls did no work on it: 0
        names = [m["name"] for m in spec["per_layer"]]
        values = {n: out["layers"].get(n, 0.0) for n in names}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        values = out["metrics"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps(run.detail))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in names},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
