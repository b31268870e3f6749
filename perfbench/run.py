#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload research_backtest --seed 1 \\
        --seconds 15 --trace 0

Run it from the root of a checkout.  The run generates its inputs from
``--seed``, sets up (launches the JVM with a ``local[<cpus>]`` session
sized to the machine and runs the workload's warm-up ops), then issues
ops in a closed loop for whole blocks until ``--seconds`` have passed (and
at least the workload's minimum number of blocks has run), checks every
op's output and prints one JSON object as the last line of standard
output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` spans are recorded around each call into the program and
the metrics are the per-layer ones.  A line before it reports the box
(cpus, heap, memory, Spark and Java versions), the tail percentile and
sample count, and the failed-op ratio.  All files a run writes go under
``.perfbench_run/`` in the checkout and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "moonshot_spark")):
        print(f"perfbench: no moonshot_spark package under {ROOT}; run "
              "from the root of a full checkout", file=sys.stderr)
        return 2
    import box
    import selfcheck
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(known: {', '.join(workloads.WORKLOADS)})", file=sys.stderr)
        return 2
    selfcheck.run_all()

    run_dir = os.path.join(ROOT, ".perfbench_run",
                           f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        env = box.prepare_env(ROOT, run_dir)
        sys.path.insert(0, ROOT)
        from runner import Runner
        runner = Runner(args, env, run_dir)
        try:
            result, report = runner.run()
        finally:
            runner.close()
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
