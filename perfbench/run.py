"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

Run from the root of a checkout: the engine package is imported from
there. ``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (spans go to perfbench/_traces/).
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; a line before it
carries run details (query strings, df-band shares, phase clock,
per-shape medians, per-state job counts, peak RSS of the Python driver
and the JVM over the timed phase). Exits non-zero, printing no result,
when the engine cannot be imported or a workload step other than a
query fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    sys.dont_write_bytecode = True  # write nothing outside the run dirs
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "heavy"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    sys.path.insert(0, ROOT)
    try:
        import open_source_search_engine_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from "
              f"{ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import harness
    from perfbench.workloads import run_workload

    bench = harness.Bench(args.workload, args.seed, args.seconds,
                          bool(args.trace), t_start)
    try:
        metrics = run_workload(bench)
    finally:
        bench.close()
    if bench.trace:
        bench.tracer.dump(os.path.join(
            harness.TRACES, f"{args.workload}-seed{args.seed}.jsonl"))
    print(json.dumps({"info": {"workload": args.workload, "seed": args.seed,
                               "seconds": args.seconds,
                               "cores": harness.local_cores(),
                               **bench.info}}))
    print(json.dumps({"correct": bench.failed == 0,
                      "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
