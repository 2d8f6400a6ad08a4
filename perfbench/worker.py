"""One benchmark run of one workload, in its own process (started by
``run.py``, which owns isolation, memory sampling and clean-up).

Phases: generate the seeded inputs → start the session → warm-up
(every op once, outputs collected for the oracle gate, then the
workload's settle passes) → closed-loop timed passes for at least
``--seconds`` → oracle gate → metrics. The result is written as JSON to
``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from typing import Any

import gen
import oracle
import tracing
import workloads as W

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def tail(samples: list[float]) -> tuple[float, float]:
    """(latency, percentile): the highest order statistic with at least
    ten samples above it, but never below the median — with fewer than
    21 samples no percentile above p50 has ten samples beyond it, and
    the median is reported."""
    s = sorted(samples)
    k = max(len(s) - 10, (len(s) + 1) // 2)
    return s[k - 1], 100.0 * k / len(s)


def kind_median(timed: list[tuple[str, float, bool]]) -> float:
    """Median over op kinds of each kind's median latency. Every pass
    holds each kind equally often, so this is the median of the pooled
    samples' mixture — but it does not jump across the latency gap
    between two kinds when a few samples trade places."""
    by_kind: dict[str, list[float]] = defaultdict(list)
    for name, t, _ in timed:
        by_kind[name].append(t)
    return statistics.median(statistics.median(v) for v in by_kind.values())


class Run:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.wl = W.WORKLOADS[args.workload]
        self.dir = os.path.abspath(args.run_dir)
        self.data = os.path.join(self.dir, "data")
        self.lake = os.path.join(self.data, "lake")
        self.etl_work = os.path.join(self.dir, "work", "etl")
        self.wh_root = os.path.join(self.dir, "work", "warehouse")
        self.tracer = tracing.Tracer(bool(args.trace))
        self.sizes = gen.TINY if args.tiny else gen.Sizes()
        self.op_id = 0
        self.days_run: list[str] = []  # its length is the warehouse version
        self.batches_run: list[str] = []
        self.collected: dict[str, tuple[list[str], list[Any]]] = {}
        self.errors: dict[str, str] = {}
        self.timed: list[tuple[str, float, bool]] = []
        self.pass_rates: list[float] = []
        self.index_stats = {"calls": 0, "builds": 0, "build_s": 0.0}
        self.progress: list[dict[str, Any]] = []

    # -- engine calls -----------------------------------------------------

    def start(self) -> None:
        gen.generate(self.data, self.args.seed, self.sizes)
        from data_pipeline_postgres_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                "-Djava.io.tmpdir=" + os.path.join(self.dir, "tmp"),
        }
        if self.args.trace:
            os.makedirs(os.path.join(self.dir, "eventlog"))
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.dir"] = os.path.join(self.dir, "eventlog")
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(self.spark)
        from data_pipeline_postgres_spark.plans import registry

        registry.load_all()
        self.registry = registry
        if self.args.trace:
            self._instrument()
        os.makedirs(self._wh_path(0))
        shutil.copy(
            os.path.join(self.data, "etl", "warehouse_base.parquet"),
            os.path.join(self._wh_path(0), "part-base.parquet"),
        )

    def _instrument(self) -> None:
        """Traced run only: time ``scratch.stored_index`` from outside
        (the query modules import it at call time, so rebinding the
        module attribute reaches every caller) and listen to streams."""
        import data_pipeline_postgres_spark.scratch as scratch

        inner = scratch.stored_index
        stats = self.index_stats

        def stored_index(spark, sf_dir, table, name, filename, build):
            built = []

            def counted_build():
                built.append(True)
                return build()

            t0 = time.perf_counter()
            with self.tracer.span("scratch.stored_index", self.op_id):
                out = inner(spark, sf_dir, table, name, filename, counted_build)
            stats["calls"] += 1
            if built:
                stats["builds"] += 1
                stats["build_s"] += time.perf_counter() - t0
            return out

        scratch.stored_index = stored_index
        self.spark.streams.addListener(tracing.stream_listener(self.progress))

    def _wh_path(self, v: int) -> str:
        return os.path.join(self.wh_root, f"v{v:04d}")

    def run_op(self, name: str, phase: str) -> None:
        self.op_id += 1
        with self.tracer.span(
            name, self.op_id, phase=phase, layer=W.LAYER[name]
        ) as rec:
            if name == W.ETL_DAY:
                self._etl_day(rec)
            else:
                self._query(name, collect=(phase == "warm"))

    def _query(self, name: str, collect: bool) -> None:
        spark = self.spark
        with self.tracer.span("build", self.op_id):
            if name == W.TRANSFORM_STREAM:
                from data_pipeline_postgres_spark import pipelines

                ckpt = os.path.join(self.dir, "scratch", "tstream_ckpt")
                shutil.rmtree(ckpt, ignore_errors=True)
                df = pipelines.transform_stream(
                    spark, os.path.join(self.data, "stream"), ckpt
                )
            else:
                df = self.registry.QUERIES[name](spark, self.lake)
        with self.tracer.span("exec", self.op_id):
            if collect:
                self.collected[name] = (df.columns, df.collect())
            else:
                df.write.format("noop").mode("overwrite").save()

    def _etl_day(self, rec: dict[str, Any]) -> None:
        from data_pipeline_postgres_spark import pipelines
        from data_pipeline_postgres_spark.operators.merge import cdc_merge

        spark, tr = self.spark, self.tracer
        n = len(self.days_run)
        ds = f"2024-01-{n % gen.N_DAYS + 1:02d}"
        batch = os.path.join(
            self.data, "etl", "cdc", f"batch_{n % self.sizes.cdc_batches:03d}.parquet"
        )
        cur, new = self._wh_path(n), self._wh_path(n + 1)
        before = self._listing() if tr.enabled else {}
        with tr.span("pipelines.extract_day", self.op_id):
            pipelines.extract_day(spark, self.lake, self.etl_work, ds)
        with tr.span("pipelines.transform_day", self.op_id):
            pipelines.transform_day(spark, self.etl_work, ds)
        with tr.span("operators.merge.cdc_merge", self.op_id):
            merged = cdc_merge(
                spark.read.parquet(cur), spark.read.parquet(batch),
                key="id", order_col="version",
            )
            merged.write.mode("overwrite").parquet(new)
        shutil.rmtree(cur)
        self.days_run.append(ds)
        self.batches_run.append(batch)
        if tr.enabled:
            import pyarrow.parquet as pq

            written = {
                p: v[0] for p, v in self._listing().items() if before.get(p) != v
            }
            rows = sum(
                pq.ParquetFile(p).metadata.num_rows
                for p in written if p.startswith(new) and p.endswith(".parquet")
            )
            rec.update(
                files_written=len(written),
                bytes_written=sum(written.values()),
                rows_rewritten_per_batch_row=rows
                / pq.ParquetFile(batch).metadata.num_rows,
            )

    def _listing(self) -> dict[str, tuple[int, int]]:
        """(size, mtime) of every file the write path owns."""
        out = {}
        for root in (self.etl_work, self.wh_root):
            for d, _, files in os.walk(root):
                for f in files:
                    st = os.stat(os.path.join(d, f))
                    out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
        return out

    # -- the run ------------------------------------------------------------

    def loop(self) -> None:
        for name in self.wl.warmup():
            self._guarded(name, "warm")
        passes = self.wl.passes(self.args.seed)
        for _ in range(self.wl.warm_passes - 1):
            for name in next(passes):
                self._guarded(name, "settle")
        self.setup_s = time.time() - self.args.spawn_time
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < self.args.seconds:
            p0 = time.perf_counter()
            names = next(passes)
            for name in names:
                a = time.perf_counter()
                ok = self._guarded(name, "timed")
                self.timed.append((name, time.perf_counter() - a, ok))
            self.pass_rates.append(len(names) / (time.perf_counter() - p0))
        self.elapsed = time.perf_counter() - t0
        open(os.path.join(self.dir, "timed.done"), "w").close()

    def _guarded(self, name: str, phase: str) -> bool:
        try:
            self.run_op(name, phase)
            return True
        except Exception as e:  # noqa: BLE001 - an op failure is a result
            self.errors.setdefault(name, f"{type(e).__name__}: {str(e)[:300]}")
            traceback.print_exc()
            return False

    def gate(self) -> None:
        """Oracle gate, outside the timed window. Records in
        ``self.errors`` every op whose output mismatches."""
        orc = oracle.Oracle(REPO_ROOT, self.lake)
        try:
            for name, (cols, rows) in self.collected.items():
                sql = self.registry.ORACLES.get(W.ORACLE_OF.get(name, name))
                if sql is None:
                    self.errors.setdefault(name, "no oracle registered")
                    continue
                if name == self.args.perturb_oracle:
                    sql = f"SELECT * FROM ({sql}) OFFSET 1"
                bad = orc.check(cols, rows, sql)
                if bad:
                    self.errors.setdefault(name, "oracle mismatch: " + bad)
            if self.days_run:
                self._gate_etl(orc)
        finally:
            orc.close()

    def _gate_etl(self, orc: oracle.Oracle) -> None:
        """The union of the day outputs must equal the flagship over the
        days replayed, and the warehouse a DuckDB replay of the batches."""
        from data_pipeline_postgres_spark import pipelines

        self.op_id += 1
        with self.tracer.span("pipelines.load_warehouse", self.op_id):
            df = pipelines.load_warehouse(self.spark, self.etl_work)
            cols, rows = df.columns, df.collect()
        days = ", ".join(f"DATE '{d}'" for d in sorted(set(self.days_run)))
        flagship = self.registry.ORACLES["material_demand"]
        bad = orc.check(
            cols, rows, f"SELECT * FROM ({flagship}) WHERE date IN ({days})"
        )
        if bad:
            self.errors.setdefault(W.ETL_DAY, "day union != flagship: " + bad)
        final = self.spark.read.parquet(self._wh_path(len(self.days_run)))
        table = oracle.replay_cdc(
            orc.con,
            os.path.join(self.data, "etl", "warehouse_base.parquet"),
            self.batches_run,
        )
        bad = orc.check(final.columns, final.collect(), f"SELECT * FROM {table}")
        if bad:
            self.errors.setdefault(W.ETL_DAY, "warehouse != CDC replay: " + bad)

    # -- metrics ------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        t, self.tail_pct = tail([t for _, t, _ in self.timed])
        stored = sum(
            gen.dir_bytes(os.path.join(self.dir, d))
            for d in ("work", "scratch", "warehouse")
        )
        read = sum(
            os.path.getsize(p) if os.path.isfile(p) else gen.dir_bytes(p)
            for p in (os.path.join(self.data, i) for i in self.wl.inputs)
        )
        return {
            "setup_s": self.setup_s,
            "ops_per_s": statistics.median(self.pass_rates),
            "op_latency_p50_s": kind_median(self.timed),
            "op_latency_tail_s": t,
            "bytes_stored_per_input_byte": stored / read,
        }

    def failed(self) -> int:
        return sum(1 for n, _, ok in self.timed if not ok or n in self.errors)


def per_layer(run: Run) -> dict[str, float]:
    """Per-layer metrics of a traced run (after the session stopped, so
    the event log is complete). Op-level figures come from the timed
    passes; layers a workload does not exercise report 0."""
    spans = run.tracer.spans
    jobs = tracing.attribute_jobs(
        tracing.read_event_log(os.path.join(run.dir, "eventlog")), spans
    )
    op_jobs: dict[int, list[dict]] = defaultdict(list)
    name_jobs: dict[str, list[dict]] = defaultdict(list)
    for i, js in jobs.items():
        op_jobs[spans[i]["op_id"]].extend(js)
        name_jobs[spans[i]["name"]].extend(js)
    timed = [s for s in spans if s.get("phase") == "timed"]

    def med(xs: list[float]) -> float:
        return statistics.median(xs) if xs else 0.0

    def mean(xs: list[float]) -> float:
        return statistics.fmean(xs) if xs else 0.0

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    def children(name: str, of: list[dict]) -> list[dict]:
        ids = {s["op_id"] for s in of}
        return [s for s in spans if s["name"] == name and s["op_id"] in ids]

    def ratio(js: list[dict]) -> float:
        n = sum(j["tasks"] for j in js)
        return sum(j["failed"] for j in js) / n if n else 0.0

    def ops_of(layer: str) -> list[dict]:
        return [s for s in timed if s["layer"] == layer and s["name"] != W.ETL_DAY]

    def jobs_of(ops: list[dict]) -> list[dict]:
        return [j for s in ops for j in op_jobs[s["op_id"]]]

    m: dict[str, float] = {}
    m["session.get_spark_s"] = dur(next(s for s in spans if s["name"] == "session.get_spark"))
    m["scratch.stored_index_builds"] = run.index_stats["builds"]
    m["scratch.stored_index_hits"] = run.index_stats["calls"] - run.index_stats["builds"]
    m["scratch.stored_index_build_s"] = run.index_stats["build_s"]

    days = [s for s in timed if s["name"] == W.ETL_DAY]
    m["pipelines.extract_day_s"] = med([dur(s) for s in children("pipelines.extract_day", days)])
    m["pipelines.transform_day_s"] = med([dur(s) for s in children("pipelines.transform_day", days)])
    lw = [s for s in spans if s["name"] == "pipelines.load_warehouse"]
    m["pipelines.load_warehouse_s"] = dur(lw[0]) if lw else 0.0
    steps = [[c for c in spans if c["op_id"] == s["op_id"] and c is not s] for s in days]
    m["pipelines.jobs_per_day"] = med([sum(c.get("jobs", 0) for c in cs) for cs in steps])
    m["pipelines.tasks_per_day"] = med([sum(c.get("tasks", 0) for c in cs) for cs in steps])
    ts = [s for s in timed if s["name"] == W.TRANSFORM_STREAM]
    m["pipelines.transform_stream_s"] = med([dur(s) for s in ts])
    m["pipelines.failed_task_ratio"] = ratio(
        name_jobs["pipelines.extract_day"] + name_jobs["pipelines.transform_day"]
        + jobs_of(ts)
    )
    m["sources.files_written_per_day"] = med([s["files_written"] for s in days])
    m["sources.bytes_written_per_day"] = med([s["bytes_written"] for s in days])
    merges = children("operators.merge.cdc_merge", days)
    m["operators.merge.cdc_merge_s"] = med([dur(s) for s in merges])
    m["operators.merge.rows_rewritten_per_batch_row"] = med(
        [s["rows_rewritten_per_batch_row"] for s in days]
    )
    m["operators.merge.failed_task_ratio"] = ratio(name_jobs["operators.merge.cdc_merge"])

    plans = ops_of("plans")
    pj = [op_jobs[s["op_id"]] for s in plans]
    m["plans.build_s"] = med([dur(s) for s in children("build", plans)])
    m["plans.exec_s"] = med([dur(s) for s in children("exec", plans)])
    m["plans.stages_per_op"] = mean([len(set().union(*(j["stages"] for j in js))) for js in pj])
    m["plans.shuffle_write_bytes_per_op"] = mean([sum(j["shuffle_write"] for j in js) for js in pj])
    m["plans.executor_cpu_s"] = mean([sum(j["cpu_s"] for j in js) for js in pj])
    m["plans.gc_s"] = mean([sum(j["gc_s"] for j in js) for js in pj])
    m["plans.spill_bytes"] = mean([sum(j["spill"] for j in js) for js in pj])
    m["plans.failed_task_ratio"] = ratio(jobs_of(plans))
    # rows an op returns, from its collected warm-up output
    out_rows = sum(len(run.collected[s["name"]][1]) for s in plans if s["name"] in run.collected)
    m["catalog.input_rows_per_output_row"] = (
        sum(j["input_rows"] for j in jobs_of(plans)) / out_rows if out_rows else 0.0
    )
    for layer in (
        "operators.dedup", "operators.similarity",
        "operators.textstats", "operators.decontaminate",
    ):
        ops = ops_of(layer)
        js = [op_jobs[s["op_id"]] for s in ops]
        m[f"{layer}.exec_s"] = med([dur(s) for s in ops])
        m[f"{layer}.tasks"] = mean([sum(j["tasks"] for j in x) for x in js])
        m[f"{layer}.shuffle_write_bytes"] = mean([sum(j["shuffle_write"] for j in x) for x in js])
        m[f"{layer}.failed_task_ratio"] = ratio(jobs_of(ops))

    drains = ops_of("streaming") + ts
    per_drain = [
        [p for p in run.progress if s["start"] <= p["ts"] <= s["end"]] for s in drains
    ]

    def drain_ms(key: str) -> float:
        return mean([sum(p["duration_ms"].get(key, 0) for p in ps) for ps in per_drain])

    m["streaming.batches_per_drain"] = mean([len(ps) for ps in per_drain])
    m["streaming.add_batch_ms"] = drain_ms("addBatch")
    m["streaming.wal_commit_ms"] = drain_ms("walCommit")
    m["streaming.query_planning_ms"] = drain_ms("queryPlanning")
    m["streaming.trigger_execution_ms"] = drain_ms("triggerExecution")
    m["streaming.state_rows_total"] = mean(
        [max((p["state_rows"] for p in ps), default=0) for ps in per_drain]
    )
    m["streaming.failed_task_ratio"] = ratio(jobs_of(drains))
    m["trace.ops_per_s"] = statistics.median(run.pass_rates)
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--perturb-oracle", default=None)
    args = ap.parse_args(argv)

    run = Run(args)
    run.start()
    run.loop()
    run.gate()
    metrics = run.end_to_end()
    run.spark.stop()
    layer = {}
    if args.trace:
        time.sleep(0.5)  # let the last listener events land
        layer = per_layer(run)
        run.tracer.write(os.path.join(run.dir, "spans.json"))
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "end_to_end": metrics,
        "per_layer": layer,
        "attempted": len(run.timed),
        "failed": run.failed(),
        "failed_ops": run.errors,
        "tail_percentile": run.tail_pct,
        "samples": len(run.timed),
        "timed_s": run.elapsed,
        "timed_by_op": {
            n: [t for m, t, _ in run.timed if m == n]
            for n in sorted({m for m, _, _ in run.timed})
        },
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
