"""Steadiness check: run the benchmark repeatedly on one commit and
report each end-to-end metric's spread against its bound.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--sets 1]
                                [--first-seed 1]

For every workload it runs ``--runs`` seeds (a second set, with
``--sets 2``, takes the next ``--runs`` seeds) and prints, per metric, the median, the interquartile
distance as a share of the median (``statistics.quantiles(n=4)``) and
the metric's bound from ``BENCHMARK.json``. A spread above a third of
the bound is flagged ``wide`` (above the bound: ``FAIL``; ``setup_s``
is exempt from the spread rule). With two sets, the second set's median
must not be worse than the first's by more than the bound. Also
reports each run's wall time, since the whole campaign has a time
budget. Exits 1 when any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    wall = time.time() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), wall


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / abs(med) if med else float("inf")


def worse(a: float, b: float, better: str) -> float:
    """How much worse ``b`` is than ``a``, as a share of ``a``."""
    if not a:
        return 0.0 if not b else float("inf")
    return (b - a) / abs(a) if better == "lower" else (a - b) / abs(a)


def main() -> int:
    s = spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in s["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    bounds = {m["name"]: m for m in s["end_to_end"]}
    ok = True
    for w in args.workloads.split(","):
        sets: list[dict[str, list[float]]] = []
        for k in range(args.sets):
            vals: dict[str, list[float]] = {}
            first = args.first_seed + k * args.runs
            for seed in range(first, first + args.runs):
                res, wall = run_once(w, seed, s["run_seconds"])
                print(
                    f"{w} set{k + 1} seed={seed} wall={wall:.1f}s correct={res['correct']} "
                    f"attempted={res['attempted']} failed={res['failed']} "
                    + " ".join(f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()),
                    flush=True,
                )
                ok &= bool(res["correct"])
                vals.setdefault("wall_s", []).append(wall)
                for n, m in res["metrics"].items():
                    vals.setdefault(n, []).append(m["value"])
            sets.append(vals)
        print(f"\n{w}: metric  median  spread  bound  verdict")
        for name, b in bounds.items():
            sp = [spread(v[name]) for v in sets]
            verdict = "ok"
            if name != "setup_s" and max(sp) > b["bound"]:
                verdict, ok = "FAIL", False
            elif name != "setup_s" and max(sp) > b["bound"] / 3:
                verdict = "wide"
            if len(sets) == 2:
                d = worse(
                    statistics.median(sets[0][name]),
                    statistics.median(sets[1][name]), b["better"],
                )
                if d > b["bound"]:
                    verdict, ok = f"FAIL (second median {d:+.1%})", False
                else:
                    verdict += f" (second median {d:+.1%})"
            print(
                f"  {name:30s} {statistics.median(sets[0][name]):12.5g} "
                + " ".join(f"{x:6.1%}" for x in sp)
                + f"  {b['bound']:.2f}  {verdict}"
            )
        walls = [x for v in sets for x in v["wall_s"]]
        print(f"  wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
