"""The benchmark's own tests (not part of the engine's suite):

    python3 -m pytest perfbench/tests -q

The end-to-end cases run every workload on 0.001-scale inputs for one
second, so most of their time is the Spark session start.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import steady  # noqa: E402
import worker  # noqa: E402
from workloads import LAYER, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


def digest(d: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), d)] = hashlib.md5(
                    fh.read()
                ).hexdigest()
    return out


# -- generator ----------------------------------------------------------------


def test_same_seed_same_inputs(tmp_path):
    gen.generate(str(tmp_path / "a"), 7, gen.TINY)
    gen.generate(str(tmp_path / "b"), 7, gen.TINY)
    gen.generate(str(tmp_path / "c"), 8, gen.TINY)
    a, b, c = (digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_lake_schema_matches_engine_tables(tmp_path):
    gen.generate(str(tmp_path), 1, gen.TINY)
    lake = tmp_path / "lake"
    assert sorted(p.name for p in lake.iterdir()) == sorted(
        f"{t}.parquet" for t in oracle.TABLES
    )
    ev = pq.read_schema(lake / "events.parquet")
    assert ev.names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert str(ev.field("ts").type) == "timestamp[us]"
    assert pq.ParquetFile(lake / "lineitem.parquet").metadata.num_rows == gen.TINY.lineitem


def test_near_duplicates_follow_dup_rate(tmp_path):
    con = duckdb.connect()
    counts = []
    for rate in (0.0, 0.5):
        d = tmp_path / str(rate)
        gen.generate(str(d), 3, gen.Sizes(documents=400, dup_rate=rate))
        counts.append(con.sql(
            f"SELECT count(*) - count(DISTINCT text) FROM '{d}/lake/documents.parquet'"
        ).fetchone()[0])
    assert counts[0] == 0 and counts[1] > 40


def test_stream_raw_zone_arrival_order_is_seeded(tmp_path):
    def order(seed):
        d = tmp_path / str(seed)
        gen.generate(str(d), seed, gen.TINY)
        root = d / "stream" / "raw" / "product_demand"
        files = [next(p.iterdir()) for p in root.iterdir()]
        return [p.parent.name for p in sorted(files, key=lambda p: p.stat().st_mtime)]

    a, b = order(1), order(2)
    assert sorted(a) == sorted(b) and len(a) == gen.N_DAYS and a != b


# -- oracle gate ----------------------------------------------------------------


def test_canon_is_drive_contracts():
    canon = oracle.load_canon(ROOT)
    assert canon(None) == "N"
    assert canon(float("nan")) == "nan"
    assert canon(1.5) == repr(1.5)


def test_cdc_replay_matches_python_merge(tmp_path):
    gen.generate(str(tmp_path), 5, gen.TINY)
    etl = tmp_path / "etl"
    batches = [str(etl / "cdc" / f"batch_{i:03d}.parquet") for i in range(3)]
    con = duckdb.connect()
    table = oracle.replay_cdc(con, str(etl / "warehouse_base.parquet"), batches)
    got = {r[0]: r for r in con.sql(f"SELECT * FROM {table}").fetchall()}

    rows = {r["id"]: r for r in pq.read_table(etl / "warehouse_base.parquet").to_pylist()}
    for p in batches:
        latest = {}
        for r in pq.read_table(p).to_pylist():
            if r["id"] not in latest or r["version"] > latest[r["id"]]["version"]:
                latest[r["id"]] = r
        for k, r in latest.items():
            op = r.pop("operation")
            if k in rows and op == "D":
                del rows[k]
            elif (k in rows and op == "U") or (k not in rows and op == "I"):
                rows[k] = r
    want = {k: tuple(r.values()) for k, r in rows.items()}
    assert got == want


def test_tail_never_below_median_and_has_ten_beyond():
    assert worker.tail([1.0] * 5 + [9.0])[0] == 1.0
    lat, pct = worker.tail([float(i) for i in range(1, 41)])
    assert lat == 30.0 and pct == 75.0


def test_spread_is_iqr_over_median():
    assert steady.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5
    )


# -- benchmark file -------------------------------------------------------------


def test_benchmark_json_names_every_workload_and_layer():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"] for m in SPEC["end_to_end"]} >= {"setup_s", "ops_per_s"}
    for w in WORKLOADS.values():
        assert all(op in LAYER for op in w.warmup())


# -- end to end (0.001 scale) ----------------------------------------------------


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_emits_every_metric(workload, trace):
    p = bench("--workload", workload, "--seed", "1", "--seconds", "1",
              "--trace", str(trace), "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: m["unit"] for k, m in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_perturbed_oracle_counts_op_failed():
    op = "tpch_q6_forecast_revenue"
    p = bench("--workload", "analytics_curation", "--seed", "2", "--seconds",
              "1", "--trace", "0", "--tiny", "--perturb-oracle", op)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    runs_of_op = res["attempted"] // len(WORKLOADS["analytics_curation"].ops)
    assert res["correct"] is False
    assert res["failed"] == runs_of_op >= 1
    assert op in p.stdout.splitlines()[-2]


def test_repo_state_untouched_by_a_run():
    watched = [os.path.join(ROOT, d) for d in (".scratch", "spark-warehouse")]
    watched += [os.path.join(ROOT, f) for f in os.listdir(ROOT) if f.startswith("BENCH")]

    def snap():
        out = {}
        for w in watched:
            if os.path.isfile(w):
                out[w] = os.stat(w).st_mtime_ns
            for d, dirs, files in os.walk(w):
                for n in dirs + files:
                    out[os.path.join(d, n)] = os.stat(os.path.join(d, n)).st_mtime_ns
        return out

    before = snap()
    p = bench("--workload", "etl_stream", "--seed", "3", "--seconds", "1",
              "--trace", "0", "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    assert snap() == before


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("runs", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = bench("--workload", "etl_stream", "--seed", "1", "--seconds", "1",
              "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
