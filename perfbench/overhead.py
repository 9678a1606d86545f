"""Tracing overhead: run one workload and seed untraced, then traced, and
print the difference in the write-path p50 (the traced run reports it as
``trace.write_p50_s``) next to the time the tracer spent reading Spark's
status stores (``trace.harvest_s``).

    python3 perfbench/overhead.py --workload lake_append --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), check=True,
                         stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args(argv)
    plain, traced = run(args, 0), run(args, 1)
    base = plain["write_p50_s"]["value"]
    with_trace = traced["trace.write_p50_s"]["value"]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "write_p50_s_untraced": base, "write_p50_s_traced": with_trace,
        "overhead_s": with_trace - base, "overhead_share": (with_trace - base) / base,
        "harvest_s": traced["trace.harvest_s"]["value"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
