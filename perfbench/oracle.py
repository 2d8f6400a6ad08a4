"""DuckDB oracle gate.

Each op's Spark output is compared, as a sorted multiset of
canonicalized rows over name-sorted columns, with the registry's
DuckDB oracle SQL run on the same generated lake. Cell canonicalization
is ``canon`` from ``tools/drive_contract.py`` — the repo's differential
check of every registered query — loaded from that file's syntax tree
(the script runs a full Spark sweep at import, so it cannot be imported
as a module), so the benchmark and that check can never disagree on
what "equal" means.
"""

from __future__ import annotations

import ast
import datetime
import decimal
import math
import os
from collections.abc import Callable, Sequence
from typing import Any

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def load_canon(repo_root: str) -> Callable[[Any], str]:
    """``canon`` as defined in ``tools/drive_contract.py``."""
    path = os.path.join(repo_root, "tools", "drive_contract.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    defs = [
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "canon"
    ]
    if len(defs) != 1:
        raise RuntimeError(f"{path} does not define canon() exactly once")
    scope = {"math": math, "decimal": decimal, "datetime": datetime}
    exec(compile(ast.Module(body=defs, type_ignores=[]), path, "exec"), scope)
    return scope["canon"]


class Oracle:
    """One DuckDB connection with a view per lake table."""

    def __init__(self, repo_root: str, lake_dir: str):
        self.canon = load_canon(repo_root)
        self.con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(lake_dir, f"{t}.parquet").replace("'", "''")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str) -> tuple[list[str], list[tuple[str, ...]]]:
        """Canonical (sorted columns, sorted rows) of an oracle query."""
        rel = self.con.sql(sql)
        cols = sorted(rel.columns)
        idx = [rel.columns.index(c) for c in cols]
        return cols, sorted(
            tuple(self.canon(r[i]) for i in idx) for r in rel.fetchall()
        )

    def spark_rows(
        self, columns: Sequence[str], rows: Sequence[Any]
    ) -> tuple[list[str], list[tuple[str, ...]]]:
        """Canonical form of collected Spark rows."""
        cols = sorted(columns)
        return cols, sorted(
            tuple(self.canon(r[c]) for c in cols) for r in rows
        )

    def check(
        self, columns: Sequence[str], rows: Sequence[Any], sql: str
    ) -> str | None:
        """None when the Spark rows equal the oracle's, else a short
        description of the first difference."""
        scols, srows = self.spark_rows(columns, rows)
        dcols, drows = self.rows(sql)
        return diff(scols, srows, dcols, drows)


def diff(scols, srows, dcols, drows) -> str | None:
    if scols != dcols:
        return f"columns {scols} != oracle {dcols}"
    if srows == drows:
        return None
    if len(srows) != len(drows):
        return f"{len(srows)} rows != oracle {len(drows)}"
    for a, b in zip(srows, drows):
        if a != b:
            return f"row {a} != oracle {b}"
    return "rows differ"


def replay_cdc(
    con: duckdb.DuckDBPyConnection, base_path: str, batch_paths: Sequence[str]
) -> str:
    """Build table ``wh_replay``: the base warehouse table with the CDC
    batches applied in order under MERGE semantics (latest version per
    key wins; I on a new key inserts, U on a live key updates, D on a
    live key deletes, anything else is a no-op). Returns its name."""
    con.execute(
        f"CREATE OR REPLACE TABLE wh_replay AS SELECT * FROM '{base_path}'"
    )
    for p in batch_paths:
        con.execute(f"""
CREATE OR REPLACE TABLE wh_replay AS
WITH b AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY version DESC) rn
        FROM '{p}'
    ) WHERE rn = 1
)
SELECT t.* FROM wh_replay t LEFT JOIN b USING (id)
WHERE b.id IS NULL OR b.operation = 'I'
UNION ALL
SELECT t.id, b.shop_id, b.raw_material, b.qty_kg, b.version
FROM wh_replay t JOIN b USING (id) WHERE b.operation = 'U'
UNION ALL
SELECT b.id, b.shop_id, b.raw_material, b.qty_kg, b.version
FROM b LEFT JOIN wh_replay t USING (id)
WHERE t.id IS NULL AND b.operation = 'I'
""")
    return "wh_replay"
