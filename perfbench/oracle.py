"""Independent correctness oracle (DuckDB), run outside the timed region.

The fold of a change log is its per-key max-LSN event, dropped when that
event is a delete. The table's live state is read straight from the
parquet files its current snapshot names (base + deltas, max ``_lsn``
per key, tombstones dropped) — no engine code on either side.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb

KEYS = "conv_id, turn_idx"
COLS = "conv_id, turn_idx, role, text, tool"


def connect(threads: int, work: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute(f"SET temp_directory='{work}/duckdb'")
    con.execute("SET memory_limit='1GB'")
    con.execute("SET preserve_insertion_order=false")
    return con


def _files(dirs: list[str]) -> str:
    files = sorted(f for d in dirs for f in glob.glob(os.path.join(d, "**", "*.parquet"),
                                                       recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet files under {dirs}")
    return "[" + ", ".join(f"'{f}'" for f in files) + "]"


def fold_sql(log_dir: str, lsn_hi: int | None = None, cols: str = COLS) -> str:
    """Live rows of the log's fold, optionally over the LSN prefix <= lsn_hi."""
    where = "" if lsn_hi is None else f"WHERE lsn <= {int(lsn_hi)}"
    return f"""
        SELECT {cols} FROM (
          SELECT *, row_number() OVER (PARTITION BY {KEYS} ORDER BY lsn DESC, op DESC) AS rn
          FROM read_parquet({_files([log_dir])}, union_by_name=true) {where}
        ) WHERE rn = 1 AND op <> 'D'"""


def table_meta(table_dir: str) -> dict:
    """The table's current snapshot metadata (``_current`` -> vNNNNNN.json)."""
    with open(os.path.join(table_dir, "_current")) as f:
        version = int(f.read().strip())
    with open(os.path.join(table_dir, f"v{version:06d}.json")) as f:
        return json.load(f)


def snapshot_dirs(table_dir: str) -> list[str]:
    """Data dirs of the table's current snapshot: base plus live deltas."""
    meta = table_meta(table_dir)
    return [os.path.join(table_dir, d) for d in [meta["data_dir"], *meta.get("deltas", [])]]


def snapshot_bytes(table_dir: str) -> int:
    return sum(os.path.getsize(p) for d in snapshot_dirs(table_dir)
               for p in glob.glob(os.path.join(d, "*.parquet")))


def table_sql(table_dir: str) -> str:
    return f"""
        SELECT {COLS} FROM (
          SELECT *, row_number() OVER (PARTITION BY {KEYS} ORDER BY _lsn DESC) AS rn
          FROM read_parquet({_files(snapshot_dirs(table_dir))}, union_by_name=true)
        ) WHERE rn = 1 AND NOT coalesce(_deleted, false)"""


def diff_rows(con, a_sql: str, b_sql: str) -> int:
    """Rows in exactly one of the two multisets (0 means equal)."""
    return con.execute(f"""
        SELECT (SELECT count(*) FROM (({a_sql}) EXCEPT ALL ({b_sql})))
             + (SELECT count(*) FROM (({b_sql}) EXCEPT ALL ({a_sql})))""").fetchone()[0]


def live_count(con, sql: str) -> int:
    return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
