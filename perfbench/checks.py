"""Output checks. None of this is timed.

A registered query's first result in a run is compared with its DuckDB
oracle from the registry, both sides in the shape
``tests/conftest.normalize_rows`` gives them. The oracle's rows are computed
once per checkout and input version (some oracles take a minute in DuckDB
at this scale) and kept under the work directory. The dedup oracles all
embed the same MinHash-bands subquery, and DuckDB recomputes it at every
step of their recursive clustering CTE; it is materialized once as a table
and the oracles read that table instead, which changes no result. Every later result of the same
query is compared with that verified first result, column by column after a
total sort, which costs milliseconds instead of a Python row walk. A query
without an oracle is checked by its row count: non-empty the first time, the
same count every later time.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import sys

import duckdb
import pyarrow as pa

from hive_backend_spark.catalog import TABLES, table_path
from hive_backend_spark.queries.dedup import _ORACLE_BANDS

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)
from tests.conftest import normalize_rows  # noqa: E402


def _plain(tbl: pa.Table) -> pa.Table:
    """Columns sorted by name; zoned timestamps made naive (the session is
    UTC, and DuckDB reads the same parquet as naive UTC)."""
    cols = []
    for name in sorted(tbl.column_names):
        col = tbl.column(name)
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))
        cols.append(col)
    return pa.table(cols, names=sorted(tbl.column_names))


def _canonical(tbl: pa.Table) -> pa.Table:
    plain = _plain(tbl)
    return plain.sort_by([(c, "ascending") for c in plain.column_names])


class Oracle:
    """DuckDB views over the benchmark's input tables, plus the verified
    first result of each query in this run."""

    def __init__(self, data_dir: str, cache_dir: str):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.con = None
        self.verified: dict[str, pa.Table | int] = {}

    def expected_sql(self, spec) -> str | None:
        return spec.oracle

    def expected(self, spec) -> tuple[list[str], list[tuple]]:
        """(sorted column names, normalized rows) of the oracle, from the
        cache when present. The cache holds only files this class wrote."""
        sql = self.expected_sql(spec)
        key = hashlib.sha256(f"{self.data_dir}\0{sql}".encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"{spec.name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        con = self._connect()
        if _ORACLE_BANDS in sql:
            con.execute(f"CREATE TABLE IF NOT EXISTS oracle_bands AS {_ORACLE_BANDS}")
            sql = sql.replace(_ORACLE_BANDS, "SELECT * FROM oracle_bands")
        rel = con.sql(sql)
        rows = normalize_rows(rel.columns, rel.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump((sorted(rel.columns), rows), f)
        os.rename(path + ".tmp", path)
        return sorted(rel.columns), rows

    def check(self, spec, result: pa.Table) -> str:
        """'' when ``result`` is right, else a one-line reason."""
        seen = self.verified.get(spec.name)
        if seen is None:
            reason = self._check_first(spec, result)
            if not reason:
                self.verified[spec.name] = (
                    _canonical(result) if self.expected_sql(spec) else result.num_rows
                )
            return reason
        if isinstance(seen, int):
            ok = result.num_rows == seen
        else:
            ok = _canonical(result).equals(seen)
        return "" if ok else "result differs from its verified first run"

    def _connect(self):
        if self.con is None:
            self.con = duckdb.connect()
            for t in TABLES:
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{table_path(self.data_dir, t)}'"
                )
        return self.con

    def _check_first(self, spec, result: pa.Table) -> str:
        sql = self.expected_sql(spec)
        if sql is None:
            return "" if result.num_rows > 0 else "no rows"
        cols, want = self.expected(spec)
        plain = _plain(result)
        got = normalize_rows(plain.column_names, [tuple(r.values()) for r in plain.to_pylist()])
        if plain.column_names != cols:
            return f"columns {plain.column_names} != {cols}"
        if len(got) != len(want):
            return f"{len(got)} rows, oracle has {len(want)}"
        if got != want:
            return "values differ from the oracle"
        return ""

    def close(self) -> None:
        if self.con is not None:
            self.con.close()
