"""Output checks: results against their DuckDB oracles.

Canonical form is the repository's oracle harness
(``tests.oracle_harness.canonicalize``): columns sorted by name, cells
rendered (floats to 12 significant digits, timestamps without zone), rows
sorted.  A result passes when its canonical form equals the oracle's
exactly.  As in the harness, a mismatch is re-checked once against the
oracle evaluated on a fresh DuckDB connection, so a DuckDB-side flake of
a long-lived connection is not charged to the engine.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pyarrow as pa

from beam_scala_examples_spark.tables import TABLES
from tests.oracle_harness import canonicalize


def arrow_canonical(table: pa.Table):
    cols = [c.to_pylist() for c in table.columns]
    return canonicalize(list(zip(*cols)) if cols else [], table.column_names)


def digest(canon) -> str:
    return hashlib.sha256(repr(canon).encode()).hexdigest()


class Oracle:
    """DuckDB views over one table directory; evaluates each oracle once
    and keeps only its digest."""

    def __init__(self, table_dir: str, temp_dir: str):
        self._table_dir = table_dir
        self._temp_dir = temp_dir
        self._con = self._connect()
        self._digests: dict[str, str] = {}

    def _connect(self) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute(f"SET temp_directory = '{self._temp_dir}/duckdb'")
        for t in TABLES:
            path = os.path.join(self._table_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return con

    @staticmethod
    def _evaluate(con, sql: str) -> str:
        res = con.sql(sql)
        return digest(canonicalize(res.fetchall(), list(res.columns)))

    def matches(self, name: str, sql: str, canon) -> bool:
        """Whether ``canon`` (a canonical result) equals oracle ``name``."""
        got = digest(canon)
        if name not in self._digests:
            self._digests[name] = self._evaluate(self._con, sql)
        if got == self._digests[name]:
            return True
        fresh = self._connect()
        try:
            return got == self._evaluate(fresh, sql)
        finally:
            fresh.close()

    def close(self) -> None:
        self._con.close()
