"""Registry output verification against DuckDB running ``oracle_sql()``.

Rows are canonicalized and compared exactly as ``tests/oracle_utils.compare``
does (same column alignment, float rounding and order-insensitive sort). The
raw DuckDB result is cached under ``perfbench/.cache``, keyed by the DuckDB
version, the oracle SQL text and a digest of every input file's bytes, so
later runs in a checkout skip DuckDB; canonicalization runs at every compare.
The engine's own output is never cached.
"""

from __future__ import annotations

import hashlib
import os
import pickle

import duckdb
from tests.oracle_utils import _sorted_rows, duckdb_conn

from aws_data_engineering_spark.sources.tables import TABLE_NAMES


def _files_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        h.update(name.encode())
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


class OracleCache:
    def __init__(self, sf_dir: str, cache_dir: str) -> None:
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self._inputs = f"{duckdb.__version__}\0{_files_digest(sf_dir)}"

    def expected(self, sql: str) -> tuple[list[str], list[tuple]]:
        """(column names, rows) of the oracle, as DuckDB returns them."""
        key = hashlib.sha256((self._inputs + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        conn = duckdb_conn(self.sf_dir)
        try:
            rel = conn.sql(sql)
            cols = list(rel.columns)
            rows = rel.fetchall()
        finally:
            conn.close()
        result = (cols, rows)
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(result, f)
        os.replace(tmp, path)
        return result


def mismatch(cols: list[str], rows: list, expected) -> str | None:
    """Why the engine's (cols, rows) differ from the oracle, or None."""
    e_cols, e_rows = expected
    if sorted(cols) != sorted(e_cols):
        return f"columns differ: {sorted(cols)} vs {sorted(e_cols)}"
    if len(rows) != len(e_rows):
        return f"row counts differ: {len(rows)} vs {len(e_rows)}"
    pairs = zip(_sorted_rows(cols, rows), _sorted_rows(e_cols, e_rows))
    for i, (a, b) in enumerate(pairs):
        if a != b:
            return f"row {i} differs: {a} vs {b}"
    return None
