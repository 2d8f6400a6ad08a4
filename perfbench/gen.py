"""Seeded input generator for the benchmark.

Writes the lake the engine reads (one single-row-group parquet file per
table, with the same column names and physical types as the engine's
reference test lake: a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``) and the write-path inputs of the ETL
workload (a base warehouse table and one CDC batch per logical day).

Everything is a pure function of ``(seed, sizes)``: the same seed gives
byte-identical inputs. The seed sets

- the ``events`` arrival order (row order of the file the streaming
  source reads) and the arrival order of the per-day raw files;
- the CDC key ranges and the insert/update/delete mix of each day;
- the near-duplicate injection into ``documents`` (``dup_rate``);
- every value in the other tables.

The query order of the read workload is also drawn from the seed, in
``workloads.py``.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a the row query stream value hash batch sort data big filter dup fast "
    "spark line small customer group key agg scan slow table part merge "
    "window order column join vector"
).split()
MATERIALS = ["foreign_arabica", "local_arabica", "robusta"]

EVENTS_START = dt.datetime(2024, 1, 1)
N_DAYS = 30
N_SHOPS = 20


@dataclasses.dataclass(frozen=True)
class Sizes:
    """Row counts of the generated lake (defaults are the 0.01 scale
    of the reference lake: 60k ``lineitem``, 10k ``events``)."""

    customer: int = 1500
    supplier: int = 100
    part: int = 2000
    orders: int = 15000
    lineitem: int = 60000
    events: int = 10000
    users: int = 150
    documents: int = 500
    embeddings: int = 500
    dup_rate: float = 0.15
    wh_rows: int = 20000
    cdc_rows: int = 1000
    cdc_batches: int = 60


TINY = Sizes(
    customer=150, supplier=10, part=200, orders=1500, lineitem=6000,
    events=1000, users=50, documents=120, embeddings=120, wh_rows=2000,
    cdc_rows=100, cdc_batches=40,
)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _star(rng: np.random.Generator, s: Sizes) -> dict[str, pa.Table]:
    i32, i64 = pa.int32(), pa.int64()
    region = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    nation = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(s.customer), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customer)],
        "c_nationkey": pa.array(rng.integers(0, 25, s.customer), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, s.customer),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, s.customer)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(s.supplier), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.supplier)],
        "s_nationkey": pa.array(rng.integers(0, 25, s.supplier), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.supplier),
    })
    names = [f"{c} {n}" for c in COLORS for n in NOUNS]
    part = pa.table({
        "p_partkey": pa.array(np.arange(s.part), i64),
        "p_name": np.array(names)[rng.integers(0, len(names), s.part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, s.part)],
        "p_size": pa.array(rng.integers(1, 51, s.part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(s.part) % 1000) * 0.1, 2),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(s.orders), i64),
        "o_custkey": pa.array(rng.integers(0, s.customer, s.orders), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, s.orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, s.orders),
        "o_orderdate": pa.array(
            _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), s.orders),
            pa.timestamp("us"),
        ),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, s.orders)],
    })
    n = s.lineitem
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, s.orders, n), i64),
        "l_partkey": pa.array(rng.integers(0, s.part, n), i64),
        "l_suppkey": pa.array(rng.integers(0, s.supplier, n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(
            _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n),
            pa.timestamp("us"),
        ),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def _events(rng: np.random.Generator, s: Sizes) -> pa.Table:
    """``events`` over 30 logical days; event_id follows event time,
    the ROW order (the arrival order a file-source stream sees) is a
    seeded permutation."""
    n = s.events
    span_us = N_DAYS * 86_400_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    ts = np.datetime64(EVENTS_START, "us") + offs.astype("timedelta64[us]")
    order = rng.permutation(n)
    return pa.table({
        "event_id": pa.array(np.arange(n)[order], pa.int64()),
        "ts": pa.array(ts[order], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s.users, n)[order], pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)][order],
        "value": np.round(rng.gamma(1.2, 20.0, n) + 0.01, 2)[order],
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)[order]],
    })


def _documents(rng: np.random.Generator, s: Sizes) -> pa.Table:
    """Random-vocabulary documents with seeded near-duplicate injection:
    each doc is, with probability ``dup_rate``, a copy of an earlier
    original (exact half the time, else with one word substituted)."""
    vocab = np.array(VOCAB)
    words: list[list[str]] = []
    originals: list[int] = []
    for i in range(s.documents):
        if originals and rng.random() < s.dup_rate:
            w = list(words[originals[rng.integers(0, len(originals))]])
            if rng.random() < 0.5:
                w[rng.integers(0, len(w))] = str(vocab[rng.integers(0, len(vocab))])
        else:
            w = list(vocab[rng.integers(0, len(vocab), rng.integers(8, 90))])
            originals.append(i)
        words.append(w)
    text = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": pa.array(range(s.documents), pa.int64()),
        "text": text,
        "lang": np.array(LANGS)[rng.choice(5, s.documents, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(s.documents)],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, s: Sizes) -> pa.Table:
    """64-d float32 vectors around 10 labelled cluster centres."""
    centres = rng.normal(0.0, 0.12, (10, 64))
    label = rng.integers(0, 10, s.embeddings)
    vec = (centres[label] + rng.normal(0.0, 0.06, (s.embeddings, 64))).astype(
        np.float32
    )
    return pa.table({
        "vec_id": pa.array(range(s.embeddings), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def _stream_raw(events: pa.Table, rng: np.random.Generator, root: str) -> None:
    """The raw zone the streaming transform drains: the product-demand
    view of ``events`` as one file per ``date=`` partition (the layout
    ``pipelines.extract_day`` writes), with file mtimes pinned to a
    seeded day arrival order."""
    ev = events.to_pandas()
    day = ev["ts"].dt.floor("D")
    bucket = ev["event_type"].str[0].map(ord) % 3
    pdv = {
        "shop_id": "shop_" + (ev["user_id"] % N_SHOPS).astype(str),
        "product_name": bucket.map({0: "cheap", 1: "medium", 2: "expensive"}),
        "demand": ev["value"],
    }
    t0 = 1_700_000_000.0
    days = sorted(day.unique())
    for k, d in enumerate(rng.permutation(len(days))):
        mask = (day == days[d]).to_numpy()
        path = os.path.join(
            root, f"date={days[d].date().isoformat()}", "part-00000.parquet"
        )
        _write(pa.table({c: pa.array(v[mask]) for c, v in pdv.items()}), path)
        os.utime(path, (t0 + 10.0 * k, t0 + 10.0 * k))


def _warehouse(rng: np.random.Generator, s: Sizes, root: str) -> None:
    """Base warehouse table plus one seeded CDC batch per logical day.

    Batch ``b`` draws its op mix around 25% I / 55% U / 20% D (the
    split itself is seeded per batch), updates/deletes keys from the
    live key range ``[0, wh_rows + inserted so far)`` and inserts fresh
    keys above it (plus the odd no-op insert on a live key). ``version``
    is unique and increasing, so latest-per-key is unambiguous."""
    shops = np.array([f"shop_{i}" for i in range(N_SHOPS)])
    mats = np.array(MATERIALS)
    n = s.wh_rows
    _write(pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "shop_id": shops[rng.integers(0, N_SHOPS, n)],
        "raw_material": mats[rng.integers(0, 3, n)],
        "qty_kg": _money(rng, 0.01, 500.0, n),
        "version": pa.array(np.zeros(n, np.int64)),
    }), os.path.join(root, "warehouse_base.parquet"))
    next_key = n
    for b in range(s.cdc_batches):
        m = s.cdc_rows
        p_ins = rng.uniform(0.15, 0.35)
        p_del = rng.uniform(0.1, 0.3)
        u = rng.random(m)
        op = np.where(u < p_ins, "I", np.where(u < p_ins + p_del, "D", "U"))
        keys = rng.integers(0, next_key, m)
        fresh = (op == "I") & (rng.random(m) < 0.9)
        keys[fresh] = next_key + np.arange(fresh.sum())
        next_key += int(fresh.sum())
        _write(pa.table({
            "id": pa.array(keys, pa.int64()),
            "shop_id": shops[rng.integers(0, N_SHOPS, m)],
            "raw_material": mats[rng.integers(0, 3, m)],
            "qty_kg": _money(rng, 0.01, 500.0, m),
            "version": pa.array((b + 1) * 1_000_000 + np.arange(m), pa.int64()),
            "operation": op,
        }), os.path.join(root, "cdc", f"batch_{b:03d}.parquet"))


def generate(out_dir: str, seed: int, sizes: Sizes = Sizes()) -> dict[str, int]:
    """Write every input under ``out_dir``; return input bytes per part
    (``lake`` = the tables, ``stream`` = the raw zone the streaming
    transform drains, ``etl`` = base warehouse table and CDC batches)."""
    rng = np.random.default_rng(seed)
    lake = os.path.join(out_dir, "lake")
    tables = _star(rng, sizes)
    tables["events"] = _events(rng, sizes)
    tables["documents"] = _documents(rng, sizes)
    tables["embeddings"] = _embeddings(rng, sizes)
    for name, t in tables.items():
        _write(t, os.path.join(lake, f"{name}.parquet"))
    _stream_raw(
        tables["events"], rng,
        os.path.join(out_dir, "stream", "raw", "product_demand"),
    )
    _warehouse(rng, sizes, os.path.join(out_dir, "etl"))
    return {
        part: dir_bytes(os.path.join(out_dir, part))
        for part in ("lake", "stream", "etl")
    }


def dir_bytes(root: str) -> int:
    """Total size of the regular files under ``root``."""
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
