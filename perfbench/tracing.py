"""Tracing for the benchmark's per-layer run.

All of it sits OUTSIDE the engine package: spans are recorded around
the benchmark's own calls into each layer's public functions, Spark
work is tagged with the op's job group, job/stage/task counts come from
``StatusTracker`` right after each op, per-task metrics from the Spark
event log once the session has stopped, and micro-batch timings from a
``StreamingQueryListener``. Spans are kept in memory and written when
the run ends.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import json
import os
import time
from collections import defaultdict
from collections.abc import Iterator
from typing import Any


class Tracer:
    """Span recorder. With ``enabled=False`` every call is a no-op, so
    the untraced run pays nothing but the function call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext if self.enabled else None

    @contextlib.contextmanager
    def span(
        self, name: str, op_id: int | None = None, **attrs: Any
    ) -> Iterator[dict[str, Any]]:
        """Record a span around the block; yields the span's record so
        the block can annotate it (a throwaway dict when disabled)."""
        if not self.enabled:
            yield {}
            return
        idx = len(self.spans)
        rec = {
            "name": name, "op_id": op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        if self._sc is not None and op_id is not None:
            rec["group"] = f"op-{op_id}-{len(self.spans)}"
            self._sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._sc is not None and op_id is not None:
                rec["jobs"], rec["tasks"] = self._status(rec["group"])
                outer = self.spans[self._stack[-1]] if self._stack else {}
                if "group" in outer:
                    self._sc.setJobGroup(outer["group"], outer["name"])

    def _status(self, group: str) -> tuple[int, int]:
        """(jobs, tasks) run under ``group``, from StatusTracker."""
        st = self._sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return len(jobs), tasks

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def stream_listener(progress: list[dict[str, Any]]):
    """A StreamingQueryListener appending one record per micro-batch
    (the ``durationMs`` breakdown, input and state rows) to
    ``progress`` — the pattern of ``tools/stream_profile.py``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            progress.append({
                "ts": dt.datetime.fromisoformat(
                    p.timestamp.replace("Z", "+00:00")
                ).timestamp(),
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "duration_ms": dict(p.durationMs),
                "input_rows": p.numInputRows,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def read_event_log(log_dir: str) -> dict[int, dict[str, Any]]:
    """Per-job aggregates from the Spark event log in ``log_dir``:
    ``{job_id: {group, submit (epoch s), stages, tasks, failed,
    cpu_s, gc_s, shuffle_write, spill, input_rows}}``. Tasks are tied
    to jobs through the stage ids each job start lists."""
    jobs: dict[int, dict[str, Any]] = {}
    stage_job: dict[int, int] = {}
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev.get("Submission Time", 0) / 1000.0,
                        "stages": set(), "tasks": 0, "failed": 0,
                        "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write": 0,
                        "spill": 0, "input_rows": 0,
                    }
                    for s in ev.get("Stage IDs", ()):
                        stage_job[s] = jid
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid is None:
                        continue
                    j = jobs[jid]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    j["stages"].add(ev["Stage ID"])
                    j["tasks"] += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if (
                        info.get("Failed") or info.get("Killed")
                        or info.get("Attempt", 0) > 0
                        or reason not in (None, "Success")
                    ):
                        j["failed"] += 1
                    j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    j["shuffle_write"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    j["input_rows"] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0
                    )
    return jobs


def attribute_jobs(
    jobs: dict[int, dict[str, Any]], spans: list[dict[str, Any]]
) -> dict[int, list[dict[str, Any]]]:
    """Map each job to the innermost span that ran it: by job group
    where the job carries one of ours, else (micro-batch jobs run on the
    stream thread under the stream's own group) by submission time
    inside the span's interval. Returns ``{span index: [jobs]}``."""
    by_group = {s["group"]: i for i, s in enumerate(spans) if "group" in s}
    timed = sorted(
        ((s["start"], s["end"], i) for i, s in enumerate(spans)
         if "group" in s and s["end"] is not None),
        key=lambda t: t[1] - t[0],
    )
    out: dict[int, list[dict[str, Any]]] = defaultdict(list)
    for j in jobs.values():
        idx = by_group.get(j["group"])
        if idx is None:
            idx = next(
                (i for a, b, i in timed if a <= j["submit"] <= b), None
            )
        if idx is not None:
            out[idx].append(j)
    return out
