"""Output checks. None of them runs inside a timed operation.

Values are compared through the cell normalizer of the repository's
oracle checker (``tools/check.py``: ``_norm``, ``_row_multiset``), so a
BIGINT 100 and a DOUBLE 100.0 still differ here as they do there.
"""

from __future__ import annotations

import importlib.util
import os
import sqlite3
import zlib
from collections import Counter
from dataclasses import dataclass, field

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_checker():
    spec = importlib.util.spec_from_file_location(
        "_oracle_check", os.path.join(_ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_checker = _load_checker()
norm = _checker._norm
row_multiset_by_name = _checker._row_multiset


def row_multiset(rows) -> Counter:
    """Order-insensitive multiset of normalized rows (positional columns)."""
    return Counter(tuple(norm(v) for v in r) for r in rows)


def summary(rows) -> dict:
    """Row count plus one checksum per column of an ``excel_rows`` table:
    exact integer sums (doubles in cents) and an order-free name hash."""
    out = {"rows": 0, "names": 0, "avg": 0, "count": 0, "max": 0, "min": 0}
    for name, avg, cnt, mx, mn in rows:
        out["rows"] += 1
        out["names"] = (out["names"] + zlib.crc32(str(name).encode())) % 2**64
        out["avg"] += round(avg * 100)
        out["count"] += cnt
        out["max"] += round(mx * 100)
        out["min"] += round(mn * 100)
    return out


def _typed(cell: str):
    for kind in (int, float):
        try:
            return kind(cell)
        except ValueError:
            pass
    return cell


def typed_csv_rows(fh) -> list[tuple]:
    """Rows of an exported CSV file (header skipped), numbers re-typed:
    ``5`` reads as int, ``5.0`` as float, as they were written."""
    import csv

    rows = csv.reader(fh)
    next(rows, None)
    return [tuple(_typed(c) for c in r) for r in rows]


@dataclass
class SqliteReplay:
    exports: dict[int, Counter] = field(default_factory=dict)
    final: Counter = field(default_factory=Counter)


def sqlite_replay(rows: list[tuple], lines: list[str]) -> SqliteReplay:
    """Run the REPL script in Python's ``sqlite3``, the reference's engine,
    starting from the generator's expected ``excel_rows``."""
    con = sqlite3.connect(":memory:")
    try:
        con.execute(
            "CREATE TABLE excel_rows (service_name TEXT NOT NULL, "
            "average_response_time_95_ms REAL, count INTEGER, "
            "max_response_time_95_ms REAL, min_response_time_95_ms REAL)")
        con.executemany("INSERT INTO excel_rows VALUES (?, ?, ?, ?, ?)", rows)
        out = SqliteReplay()
        for i, line in enumerate(lines):
            sql, marker, _ = line.partition("|out=")
            cur = con.execute(sql)
            if marker:
                out.exports[i] = row_multiset(cur.fetchall())
        out.final = row_multiset(con.execute("SELECT * FROM excel_rows"))
        return out
    finally:
        con.close()


def compare(s_cols, s_rows, d_cols, d_rows) -> str | None:
    """None when row count, column names and normalized values agree."""
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} != {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"{len(s_rows)} rows != {len(d_rows)}"
    if row_multiset_by_name(s_cols, s_rows) != \
            row_multiset_by_name(d_cols, d_rows):
        return "values differ"
    return None


class Oracle:
    """DuckDB over the generated parquet tables."""

    TABLES = _checker.TABLES

    def __init__(self, sf_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in self.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{os.path.join(sf_dir, t + '.parquet')}'")

    def problem(self, df, sql: str) -> str | None:
        """What is wrong with Spark's result ``df`` against ``sql``."""
        rows = [tuple(r) for r in df.collect()]
        cur = self.con.execute(sql)
        return compare(df.columns, rows, [d[0] for d in cur.description],
                       cur.fetchall())

    def close(self) -> None:
        self.con.close()
