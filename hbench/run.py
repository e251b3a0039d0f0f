"""Benchmark entry point. Run from the repository root:

    python3 hbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: serve-post-and-read, serve-multitenant, ingest-stream, olap.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones, as the last line of standard output. ``--plant-mismatch``
corrupts one expected value so the correctness check must fail.
Exit code 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("serve-post-and-read", "serve-multitenant", "ingest-stream", "olap")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-mismatch", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "hematite_spark")):
        print("hbench: the hematite_spark package is not beside hbench/", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

    from hbench.common import Result

    res = Result()
    if args.workload == "serve-post-and-read":
        from hbench.serve import post_and_read as run
    elif args.workload == "serve-multitenant":
        from hbench.serve import multitenant as run
    elif args.workload == "ingest-stream":
        from hbench.ingest import run
    else:
        from hbench.olap import run
    run(args, res)

    # the metric lists live in BENCHMARK.json beside this directory; a
    # traced run prints every per-layer metric, and a layer the
    # workload does not exercise reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if args.trace:
        for k in ("op_p50_ms", "throughput_per_s"):
            if k in res.metrics:
                res.put(f"traced.{k}", res.metrics[k]["value"], res.metrics[k]["unit"])
    for name, unit in wanted.items():
        if name not in res.metrics:
            res.check(bool(args.trace), f"end-to-end metric {name} was not measured")
            res.put(name, 0.0, unit)
    res.metrics = {k: res.metrics[k] for k in wanted}
    print(res.line(), flush=True)
    return 0 if not res.errors else 1


if __name__ == "__main__":
    sys.exit(main())
