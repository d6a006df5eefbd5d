"""Correctness check: an op's output against its DuckDB oracle.

Rows are compared the way the repository's oracle gate
(``tools/check_oracle.py``) compares them, with its own value hash:
sorted column names, row count, and an order-insensitive SHA-256 over
the stringified rows (floats via ``repr``).  Import it with the
repository root on ``sys.path``.
"""

from __future__ import annotations

import os

import duckdb

from tools.check_oracle import value_hash


def digest(columns: list[str], rows: list[tuple]) -> tuple:
    """(sorted column names, row count, value hash) of a result whose
    tuples follow ``columns``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    return cols, len(rows), value_hash([tuple(r[i] for i in order)
                                        for r in rows])


def spark_digest(df) -> tuple:
    cols = df.columns
    return digest(cols, [tuple(r) for r in df.collect()])


class Oracle:
    """DuckDB over the generated parquet tables, one view per table."""

    def __init__(self, data_dir: str, tables):
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def digest(self, sql: str) -> tuple:
        cur = self.con.execute(sql)
        return digest([c[0] for c in cur.description], cur.fetchall())

    def close(self) -> None:
        self.con.close()


def mismatch(got: tuple, want: tuple) -> str | None:
    """None when the digests agree, else what differs."""
    if got[0] != want[0]:
        return f"schema {got[0]} != {want[0]}"
    if got[1] != want[1]:
        return f"rowcount {got[1]} != {want[1]}"
    if got[2] != want[2]:
        return f"value hash {got[2]} != {want[2]}"
    return None
