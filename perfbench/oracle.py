"""Correctness of query results against their DuckDB ``oracle_sql()`` twins.

The compare is the one the driver contract specifies: row order is ignored,
the schema is compared by column name, and values are compared through a
hash of their ``repr`` taken in column-name order.
"""

from __future__ import annotations

import hashlib

import duckdb

from perfbench.corpus import TABLES


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(repr(r[i]) for i in order) for r in rows)
    return hashlib.sha256(repr(canon).encode()).hexdigest()


class DuckOracle:
    """DuckDB views over one corpus directory, limited to ``threads``."""

    def __init__(self, corpus_dir: str, threads: int) -> None:
        self.con = duckdb.connect(config={"threads": threads, "memory_limit": "2GB"})
        self.con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")

    def mismatch(self, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        """``None`` when ``(cols, rows)`` equals the oracle's result, else why not."""
        res = self.con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        if len(rows) != len(orows):
            return f"{len(rows)} rows != oracle {len(orows)}"
        if value_hash(cols, rows) != value_hash(ocols, orows):
            return "values differ from the oracle"
        return None

    def close(self) -> None:
        self.con.close()
