"""Output checks against DuckDB, run outside every timed window.

- ``Replay`` keeps a DuckDB copy of a merge table and applies each
  mutation batch to it the way the merge contract says (DELETE drops the
  key, UPSERT replaces or inserts the full row). The engine's snapshot
  must then hold the same rows: equal count and equal order-insensitive
  checksum.
- ``oracle_mismatch`` compares a catalog query's result with its
  registered DuckDB oracle SQL, order-insensitively, floats rounded.
"""

from __future__ import annotations

import math
import os
import tempfile

import duckdb

from gen import LINEITEM_COLUMNS

# order-insensitive row checksum; timestamps as epoch micros so naive and
# tz-aware renderings of one instant hash alike
_ROW_HASH = "hash(" + ", ".join(
    "epoch_us(l_shipdate)" if c == "l_shipdate" else c for c in LINEITEM_COLUMNS
) + ")"
_CHECKSUM = f"SELECT count(*), coalesce(sum({_ROW_HASH}::HUGEINT), 0) FROM "


def connect() -> "duckdb.DuckDBPyConnection":
    """One DuckDB thread; spill files (if any) under the run's TMPDIR."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute(f"SET temp_directory = '{os.path.join(tempfile.gettempdir(), 'duckdb')}'")
    return con


class Replay:
    """DuckDB replay of a merge table: base plus every applied batch."""

    def __init__(self, base_path: str):
        self.con = connect()
        self.con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{base_path}')")

    def apply_batch(self, path: str) -> None:
        """A merge batch: DELETE and UPSERT rows keyed by ``l_key``."""
        cols = ", ".join(LINEITEM_COLUMNS)
        self.con.execute(
            f"DELETE FROM t WHERE l_key IN (SELECT l_key FROM read_parquet('{path}'))"
        )
        self.con.execute(
            f"INSERT INTO t SELECT {cols} FROM read_parquet('{path}') WHERE op = 'UPSERT'"
        )

    def apply_deletes(self, path: str) -> None:
        """A key list to tombstone."""
        self.con.execute(
            f"DELETE FROM t WHERE l_key IN (SELECT l_key FROM read_parquet('{path}'))"
        )

    def expected(self, where: str = "TRUE") -> tuple[int, int]:
        return tuple(self.con.execute(f"{_CHECKSUM} t WHERE {where}").fetchone())

    def checksum(self, arrow_table) -> tuple[int, int]:
        """Count and checksum of rows the engine returned."""
        rel = arrow_table.select(LINEITEM_COLUMNS)  # noqa: F841 - read by DuckDB
        return tuple(self.con.execute(f"{_CHECKSUM} rel").fetchone())

    def close(self) -> None:
        self.con.close()


FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def oracle_connection(fixture_dir: str) -> "duckdb.DuckDBPyConnection":
    con = connect()
    for t in FIXTURE_TABLES:
        p = os.path.join(fixture_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _canon(v):
    """One cell, comparable across engines: floats type-tagged and
    rounded, so an int never equals a float and sum order does not
    matter."""
    import numpy as np

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (float, np.floating)):
        return ("f", round(float(v), 6))
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _rows(pdf, cols: list[str]) -> list[tuple]:
    return sorted(
        (tuple(_canon(r[c]) for c in cols) for r in pdf.to_dict("records")),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def oracle_mismatch(con, sql: str, result_pdf) -> str | None:
    """None when ``result_pdf`` equals the oracle's rows, else why not."""
    expected = con.execute(sql).fetchdf()
    if sorted(result_pdf.columns) != sorted(expected.columns):
        return f"columns {sorted(result_pdf.columns)} != {sorted(expected.columns)}"
    if len(result_pdf) != len(expected):
        return f"row count {len(result_pdf)} != {len(expected)}"
    cols = sorted(expected.columns)
    for i, (a, b) in enumerate(zip(_rows(result_pdf, cols), _rows(expected, cols))):
        if a != b:
            return f"sorted row {i}: {a} != {b}"
    return None
