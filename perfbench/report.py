"""One command for every workload: an untraced run (end-to-end metrics,
oracle gate, failed-op ratio and the names of failing ops) and a traced
run (per-layer metrics), plus the tracing overhead — traced minus
untraced ``ops_per_s``.

    python3 perfbench/report.py [--seed 1] [--seconds 10] [--workloads a,b]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402


def main() -> int:
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument(
        "--workloads", default=",".join(w["name"] for w in spec["workloads"])
    )
    args = ap.parse_args()
    if not bench.engine_present():
        print("engine package not found next to perfbench/", file=sys.stderr)
        return 2
    ok = True
    for w in args.workloads.split(","):
        res = {}
        for trace in (0, 1):
            res[trace] = bench.run(argparse.Namespace(
                workload=w, seed=args.seed, seconds=args.seconds,
                trace=trace, tiny=False, perturb_oracle=None,
            ))
            if res[trace] is None:
                print(f"{w}: trace={trace} run failed", file=sys.stderr)
                return 1
        r0, r1 = res[0], res[1]
        s0 = bench.summary(r0, 0)
        ok &= s0["correct"]
        print(f"== {w} (seed {args.seed})")
        for name, m in s0["metrics"].items():
            print(f"  {name:32s} {m['value']:14.6g} {m['unit']}")
        print(
            f"  {'failed_op_ratio':32s} {r0['failed'] / r0['attempted']:14.6g}"
            f" ({r0['failed']}/{r0['attempted']})"
        )
        print(f"  op_latency_tail_s is p{r0['tail_percentile']:.0f} of {r0['samples']} samples")
        for op, why in sorted(r0["failed_ops"].items()):
            print(f"  FAILING {op}: {why}")
        print("  per-layer (traced run):")
        for name, m in bench.summary(r1, 1)["metrics"].items():
            print(f"    {name:46s} {m['value']:14.6g} {m['unit']}")
        traced = r1["per_layer"]["trace.ops_per_s"]
        plain = r0["end_to_end"]["ops_per_s"]
        print(
            f"  tracing overhead: {traced - plain:+.4g} ops/s "
            f"({(traced - plain) / plain:+.1%} of untraced {plain:.4g})\n"
        )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
