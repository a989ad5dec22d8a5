"""Interactive ``[SQL] >>`` shell — the rebuild of the reference's REPL.

Reference behavior (src/main.rs:130-177): rustyline prompt loop with
history; every line goes to the SQL passthrough; an ``|out=<path>``
suffix exports the result to CSV. Two reference defects are fixed here
with the *intended* semantics (SURVEY.md §2.A defects 1-2):

- export happens only when ``|out=`` is actually present (the reference's
  ``split("|out=").last()`` made every query take the export path,
  writing a junk file named after the SQL text);
- the path is cleanly removed from the SQL (the reference left an
  ``=<path>`` residue that only worked because SQLite stops parsing at
  the first ``;``).

``spark.sql`` is the passthrough — Catalyst plays SQLite's role
(reference src/main.rs:220).
"""

from __future__ import annotations

import argparse
import re
import sys
import time

from pyspark.sql import SparkSession

from .compat.sqlite_dialect import apply_session_mode, paren_depths, rewrite
from .dml import try_dml
from .ingest import IngestOptions, from_arrow, load_excel_table
from .sinks.csv_sink import export_csv
from .sinks.display import show

PROMPT = "[SQL] >> "
_OUT_RE = re.compile(r"\|out=")


def parse_out_suffix(line: str) -> tuple[str, str | None]:
    """Split ``<sql> |out=<path>`` -> (sql, path-or-None).

    Intended semantics of reference src/main.rs:148-159: the suffix is
    optional; without it no file is written. The marker is honored only
    OUTSIDE quoted tokens — ``... WHERE note = 'a|out=b'`` is a query
    about that literal, not an export — and the last such marker wins."""
    depths = paren_depths(line)
    cut = max((m.start() for m in _OUT_RE.finditer(line)
               if m.start() in depths), default=-1)
    if cut < 0:
        return line, None
    sql, path = line[:cut], line[cut + len("|out="):]
    return sql.strip(), (path.strip() or None)


def run_line(spark: SparkSession, line: str, *, sqlite_compat: bool = False,
             row_cap: int = 1000) -> None:
    sql, out_path = parse_out_suffix(line)
    sql = sql.strip().rstrip(";")
    if not sql:
        return
    t0 = time.perf_counter()
    # DML/DDL first: the reference's passthrough executes INSERT/UPDATE/
    # DELETE/CREATE/DROP against SQLite (src/main.rs:220); we store each
    # result as a driver-held temp view (see dml.py). Non-matching
    # statements fall through to the plain spark.sql passthrough.
    rewritten = rewrite(sql, sqlite_compat=sqlite_compat)  # pure; compute once
    msg = try_dml(spark, rewritten)
    if msg is not None:
        print(msg)
        print(f"-- {time.perf_counter() - t0:.3f}s")
        return
    df = spark.sql(rewritten)
    if out_path:
        # Run the query once: display and export both read this driver
        # copy, a LocalRelation that collects without a job.
        df = from_arrow(spark, df.toArrow(), df.schema)
    show(df, row_cap=row_cap)
    if out_path:
        export_csv(df, out_path)
        print(f"-- exported to {out_path}")
    # Timing log, as the reference's `Query and Display Elapsed`
    # (src/main.rs:292-293).
    print(f"-- {time.perf_counter() - t0:.3f}s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="excel_to_db_spark",
        description="Load an .xlsx sheet as table excel_rows and query it "
                    "with Spark SQL (reference: preedep/excel_to_db).")
    ap.add_argument("-f", "--file-name", required=True, help=".xlsx path")
    ap.add_argument("-s", "--sheet-name", default=None,
                    help="sheet name (default: first sheet)")
    ap.add_argument("--sqlite-compat", action="store_true",
                    help="SQLite bug-compat dialect (ILIKE, TRY_CAST, ANSI off)")
    ap.add_argument("--null-preserving", action="store_true",
                    help="missing cells -> NULL instead of the reference's 0/0.0")
    ap.add_argument("--row-cap", type=int, default=1000)
    ap.add_argument("--to-sqlite", metavar="DB_PATH", default=None,
                    help="also persist excel_rows into this SQLite file "
                         "(the reference's in-memory DB, made durable)")
    args = ap.parse_args(argv)

    from .session import get_spark

    spark = get_spark("excel_to_db_spark-repl")
    apply_session_mode(spark, args.sqlite_compat)

    t0 = time.perf_counter()
    df = load_excel_table(
        spark, args.file_name, args.sheet_name,
        opts=IngestOptions(null_preserving=args.null_preserving))
    print(f"-- loaded {df.count()} rows into excel_rows "
          f"({time.perf_counter() - t0:.3f}s)")

    if args.to_sqlite:
        from .sinks.db import write_sqlite

        t0 = time.perf_counter()
        n = write_sqlite(df, args.to_sqlite, "excel_rows",
                         unique_key="service_name")
        print(f"-- wrote {n} rows to sqlite {args.to_sqlite} "
              f"({time.perf_counter() - t0:.3f}s)")

    try:
        import readline  # noqa: F401  line editing + history when available
    except ImportError:
        pass
    while True:
        try:
            line = input(PROMPT)
        except (EOFError, KeyboardInterrupt):
            print()
            return 0
        if line.strip().lower() in {"exit", "quit", r"\q"}:
            return 0
        try:
            run_line(spark, line, sqlite_compat=args.sqlite_compat,
                     row_cap=args.row_cap)
        except Exception as exc:  # keep the shell alive, as the reference does
            print(f"ERROR: {exc}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
