"""Tracing overhead: the same workload and seed untraced, then traced.

    python3 perfbench/overhead.py --workload rag_session --seed 1 --seconds 15

Prints the untraced ``cpu_ms_per_op``, the traced run's
``trace.cpu_ms_per_op`` and their difference, plus both runs' wall time,
as one JSON line. End-to-end metrics always come from untraced runs;
this only sizes what tracing adds.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def result(args: argparse.Namespace, trace: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"], time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    plain, plain_s = result(args, 0)
    traced, traced_s = result(args, 1)
    cpu, cpu_traced = plain["cpu_ms_per_op"]["value"], traced["trace.cpu_ms_per_op"]["value"]
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "cpu_ms_per_op": cpu, "traced_cpu_ms_per_op": cpu_traced,
                      "cpu_overhead_share": (cpu_traced - cpu) / cpu,
                      "run_s": plain_s, "traced_run_s": traced_s}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
