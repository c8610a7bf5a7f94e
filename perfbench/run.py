#!/usr/bin/env python3
"""Benchmark of the probably_jl_spark sketch library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates seeded inputs (cached under
perfbench/.work), sets up a local[4] session several times, runs the
workload's jobs in a closed loop for ``--seconds``, checks every output
and prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace 1``
the per-layer ones (and writes the layer table to stderr and the run
record). Workloads and metrics are listed in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the self-tests use a tiny scale)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    contract_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "probably_jl_spark" / "__init__.py").is_file() or not contract_path.is_file():
        print("perfbench: run from a checkout that holds probably_jl_spark/ and BENCHMARK.json",
              file=sys.stderr)
        return 2
    contract = json.loads(contract_path.read_text())
    if args.workload not in {w["name"] for w in contract["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # SIGTERM unwinds through the harness's finally, which stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, str(ROOT))
    from perfbench.harness import run

    result = run(ROOT, contract, args.workload, args.seed, args.seconds, bool(args.trace),
                 args.scale)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
