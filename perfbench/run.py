"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run gets its own directory under
``perfbench/runs/`` holding the generated inputs, the engine's scratch
space (``SPARK_GRAFT_SCRATCH``), its Spark warehouse and local dirs and
the event log; nothing is written anywhere else. The workload runs in a
child process in its own session; this process samples the resident
memory of that whole process tree (driver Python, JVM, Python workers)
through set-up and the timed loop, kills whatever is left of it when the run ends, and prints the result
as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see ``BENCHMARK.json``). Exits non-zero without a
result when the engine is missing or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 160.0
KEEP = ("result.json", "spans.json", "worker.log")


def session_procs(sid: int) -> dict[int, int]:
    """``{pid: ppid}`` of the live processes of session ``sid`` (the
    worker and everything it started: the JVM, Python workers)."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the command name: state, ppid, pgrp, session, ...
        if int(fields[3]) == sid and fields[0] != "Z":
            procs[int(d)] = int(fields[1])
    return procs


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_mb(sid: int) -> float:
    """Resident memory of the session's processes. A JVM child that is
    still the JVM's own image (forked to spawn a helper command, not yet
    exec'd) shares the JVM's pages and is skipped, or every such spawn
    would count the JVM twice."""
    procs = session_procs(sid)
    keep = [
        p for p, pp in procs.items()
        if not (pp in procs and _exe(p).endswith("/java") and _exe(p) == _exe(pp))
    ]
    return rss_mb(keep)


def rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class PeakRss(threading.Thread):
    """Samples the tree's memory every 0.2 s until the worker drops the
    ``stop_file`` marker at the end of its timed loop, so the oracle
    gate — the benchmark's own checking — is not counted."""

    def __init__(self, sid: int, stop_file: str):
        super().__init__(daemon=True)
        self.sid = sid
        self.stop_file = stop_file
        self.peak = 0.0
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(0.2) and not os.path.exists(self.stop_file):
            self.peak = max(self.peak, tree_rss_mb(self.sid))


def kill_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process of the session; return when
    none is left."""
    for sig, wait in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        deadline = time.time() + wait
        while session_procs(sid) and time.time() < deadline:
            try:
                os.killpg(sid, sig)
            except ProcessLookupError:
                break
            time.sleep(0.2)
        if not session_procs(sid):
            return


def engine_present() -> bool:
    return os.path.isfile(
        os.path.join(ROOT, "data_pipeline_postgres_spark", "__init__.py")
    ) and os.path.isfile(os.path.join(ROOT, "tools", "drive_contract.py"))


def child_env(run_dir: str) -> dict[str, str]:
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
        "SPARK_GRAFT_SF_DIR": os.path.join(run_dir, "data", "lake"),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM (launcher and driver) would otherwise keep its
        # perf-counter file under /tmp/hsperfdata_<user>
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYTHONWARNINGS": "ignore",
    })
    return env


def run(args: argparse.Namespace) -> dict | None:
    spawn = time.time()
    run_dir = os.path.join(
        HERE, "runs",
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}",
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--spawn-time", repr(spawn), "--out", out,
    ] + (["--tiny"] if args.tiny else []) + (
        ["--perturb-oracle", args.perturb_oracle] if args.perturb_oracle else []
    )
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=child_env(run_dir), stdout=log,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            start_new_session=True,
        )
        sampler = PeakRss(proc.pid, os.path.join(run_dir, "timed.done"))
        sampler.start()
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.done.set()
            sampler.join()
            kill_session(proc.pid)
            proc.wait()
    result = None
    if code == 0 and os.path.isfile(out):
        with open(out) as f:
            result = json.load(f)
        result["end_to_end"]["peak_rss_mb"] = sampler.peak
    else:
        with open(os.path.join(run_dir, "worker.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.stderr.write(f"\nworker exit code {code}\n")
    for entry in os.listdir(run_dir):
        if entry not in KEEP:
            p = os.path.join(run_dir, entry)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
    if result is not None:
        with open(out, "w") as f:
            json.dump(result, f)
    return result


def summary(result: dict, trace: int) -> dict:
    """The printed result line; metric names and units come from
    BENCHMARK.json, values from the worker's result."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = result["per_layer"] if trace else result["end_to_end"]
    return {
        "correct": result["failed"] == 0 and not result["failed_ops"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["per_layer" if trace else "end_to_end"]
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--tiny", action="store_true",
        help="0.001-scale inputs (the benchmark's own tests)",
    )
    ap.add_argument(
        "--perturb-oracle", metavar="OP",
        help="drop a row from OP's oracle result (tests the gate)",
    )
    args = ap.parse_args()
    if not engine_present():
        print("engine package not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = run(args)
    if result is None:
        return 1
    print(
        f"# {args.workload} seed={args.seed}: {result['samples']} ops in "
        f"{result['timed_s']:.1f}s, tail=p{result['tail_percentile']:.0f}, "
        f"failed_op_ratio={result['failed'] / result['attempted']:.4f}, "
        f"failed ops: {sorted(result['failed_ops']) or 'none'}"
    )
    print(json.dumps(summary(result, args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
