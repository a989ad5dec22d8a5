"""CSV export sink.

Reference (src/main.rs:264-286): re-serializes the *rendered* display
table (header row included) to one CSV file, stripping every comma from
every cell — an artifact of undoing thousands separators that also
corrupts commas inside text (SURVEY.md §2.A defect 4).

Two modes:

- intended (default): values written from the DataFrame, proper CSV
  quoting, one driver-side file (matching the reference's single-file
  output).
- bug_compat: reproduce the rendered-table path, thousands separators
  stripped by comma-removal, exactly like the reference.
"""

from __future__ import annotations

import csv

from pyspark.sql import DataFrame

from .display import collect_formatted


def export_csv(df: DataFrame, path: str, *, bug_compat: bool = False) -> None:
    if bug_compat:
        header, rows, _ = collect_formatted(df, 10**9)
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow([h.replace(",", "") for h in header])
            for row in rows:
                w.writerow([c.replace(",", "") for c in row])
        return
    rows = df.collect()
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(df.columns)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])
