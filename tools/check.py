"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` on sf0.01 and
compares against its ``oracle_sql()`` twin executed by DuckDB on the same
parquet files: row count, sorted column-name schema, and an
order-insensitive value multiset (floats compared with tolerance-free
string normalization so mismatches surface loudly).

Usage:  python tools/check.py [key ...]     # no args = all keys
"""

from __future__ import annotations

import atexit
import math
import os
import shutil
import sys
import tempfile
import time
from collections import Counter
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def duck_connect() -> duckdb.DuckDBPyConnection:
    """DuckDB capped at half the host memory beyond the 8 GB Spark
    driver (at least 1 GiB), spilling to a temp dir removed at exit.
    DuckDB's own default, 80% of RAM, and the driver in one process
    outgrow a 15 GB host at sf0.1; with the cap an oracle that
    outgrows it raises, which fails its own key and not the sweep."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    cap_mb = max(1 << 30, (phys - (8 << 30)) // 2) >> 20
    spill = tempfile.mkdtemp(prefix="check_duck_")
    atexit.register(shutil.rmtree, spill, True)
    return duckdb.connect(config={"memory_limit": f"{cap_mb}MB",
                                  "temp_directory": spill})


def _norm(v):
    """Normalize one cell for cross-engine comparison.

    TYPE-FAITHFUL (VERDICT r4 #2): the driver's value hash is
    type-sensitive — Spark BIGINT 100 vs DuckDB DOUBLE 100.0 is a FAIL
    there, so it must be a FAIL here too. int, float, and Decimal each
    normalize to distinct strings; a query that returns different
    numeric type classes on the two engines fails loudly instead of
    being silently forgiven (the r3/r4 `jsonl_roundtrip` blind spot).
    """
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, Decimal):
        # Duck-side only: the driver fetches DuckDB DECIMAL via pandas
        # (-> float64), proven by `excel_scan` passing the r3 driver
        # hash with a DECIMAL oracle column. Spark-side Decimals never
        # reach here — `compare` hard-fails any DecimalType in a
        # Spark result schema (that class IS a driver hash-fail).
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # 12 significant digits: catches real bugs, forgives last-ulp
        # differences in summation order. Integral floats keep a ".0"
        # suffix so float 100.0 never collides with int 100.
        s = f"{v:.12g}"
        if "." not in s and "e" not in s and "n" not in s and "f" not in s:
            s += ".0"
        return s
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _row_multiset(cols, rows):
    """Rows -> multiset of normalized tuples, columns sorted by name
    (mirrors the driver's column-name sort before hashing)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def compare(df, s_rows, rel=None, d_rows=()) -> list[str]:
    """Every way one key fails the driver's gate, in the gate's order:
    a DecimalType in the Spark schema or a HUGEINT oracle column (the
    driver fetches both through pandas and hashes them as another type,
    whatever the values), then the sorted column names, the row count
    and the normalized value multiset. `df` is the key's frame and
    `s_rows` its collected rows; `rel` is the DuckDB relation of its
    oracle (`con.sql`; None for a key without one) and `d_rows` the
    fetched rows. A cursor will not do: DuckDB 1.0 describes every
    numeric column of one as NUMBER. Empty when the key passes."""
    if "DecimalType" in str(df.schema):
        return [f"Spark result contains DecimalType (driver hash-fail "
                f"class) — cast the projection to DOUBLE/BIGINT/STRING: "
                f"{df.schema.simpleString()}"]
    if rel is None:
        return []
    huge = [c for c, t in zip(rel.columns, rel.types)
            if "HUGEINT" in str(t).upper()]
    if huge:
        return [f"oracle column(s) {huge} are HUGEINT (driver pandas-fetch "
                f"-> float64 hash-fail class) — CAST the aggregate to "
                f"BIGINT in the oracle"]
    s_cols, d_cols = df.columns, rel.columns
    problems = []
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"schema: spark={sorted(s_cols)} duck={sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount: spark={len(s_rows)} duck={len(d_rows)}")
    if not problems:
        sm, dm = _row_multiset(s_cols, s_rows), _row_multiset(d_cols, d_rows)
        if sm != dm:
            only_s = list((sm - dm).items())[:3]
            only_d = list((dm - sm).items())[:3]
            problems.append(f"values: spark-only={only_s} duck-only={only_d}")
    return problems


def main(keys: list[str]) -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    spark = (SparkSession.builder.master(f"local[{os.cpu_count()}]")
             .appName("check")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "8g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duck_connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = E.queries()
    oracles = E.oracle_sql()
    selected = keys or sorted(qs)
    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name in selected:
        if name not in qs:
            print(f"?? {name}: no such query")
            continue
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, SF_DIR)
            s_rows = [tuple(r) for r in df.collect()]
        except Exception as exc:
            n_fail += 1
            failures.append(name)
            print(f"FAIL {name}: spark raised {type(exc).__name__}: {exc}")
            continue
        if name == "dedup_simhash":
            # Second witness beyond the SQL twin: compare value-for-value
            # against the independent pure-Python reimplementation
            # (tools/simhash_oracle.py, hashlib.md5) — then fall through
            # to the standard DuckDB-oracle comparison below.
            from simhash_oracle import expected_pairs
            docs = con.execute(
                "SELECT doc_id, text FROM documents").fetchall()
            exp = expected_pairs(docs)
            got = {(r[0], r[1], r[2]) for r in s_rows}
            if exp != got:
                n_fail += 1
                failures.append(name)
                print(f"FAIL {name}: py-oracle mismatch "
                      f"(missing={sorted(exp - got)[:3]} "
                      f"extra={sorted(got - exp)[:3]})")
                continue
        rel, d_rows = None, ()
        if name in oracles:
            try:
                rel = con.sql(oracles[name])
                d_rows = rel.fetchall()
            except Exception as exc:
                n_fail += 1
                failures.append(name)
                print(f"FAIL {name}: duckdb raised {type(exc).__name__}: {exc}")
                continue
        problems = compare(df, s_rows, rel, d_rows)
        if problems:
            n_fail += 1
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
        elif rel is None:
            n_rows_only += 1
            print(f"ro   {name}: rows-only ({len(s_rows)} rows, "
                  f"{time.perf_counter()-t0:.1f}s)")
        else:
            n_pass += 1
            print(f"ok   {name} ({len(s_rows)} rows, {time.perf_counter()-t0:.1f}s)")
    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} fail"
          + (f"  [{' '.join(failures)}]" if failures else ""))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
