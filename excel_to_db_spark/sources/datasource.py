"""`spark.read.format("xlsx")` — a Python Data Source (Spark >= 4.0) for
partitioned Excel ingestion.

The reference parses one sheet single-threaded in the driver process
(reference src/main.rs:49-85). The v1 rebuild path (ingest.load_excel_table)
keeps that driver-side shape; this DataSource is the scale path: each
(file, sheet) pair becomes an input partition, so a directory of
workbooks (the realistic "100 GB of Excel" situation — xlsx files are
individually small, there are just many of them) parses in parallel on
executors: each partition's Python reader yields typed row tuples, which
PySpark batches to Arrow and hands to the JVM. For a single
giant sheet, pre-convert to Parquet (xlsx XML is inherently sequential —
a row-range split would still decompress the whole stream per split).

Usage:

    from excel_to_db_spark.sources.datasource import XlsxDataSource
    spark.dataSource.register(XlsxDataSource)
    df = (spark.read.format("xlsx")
          .option("path", "/data/books/*.xlsx")   # file, glob, or dir
          .option("sheet", "Sheet1")              # optional: one sheet
          .load())

Schema: the reference's fixed 5-column excel_rows schema with its
executed coercion semantics (ingest.coerce_row defaults mode), or
`.option("null_preserving", "true")` for the serde-path NULL semantics.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceWriter, InputPartition,
                                    WriterCommitMessage)

from ..ingest import EXCEL_ROWS_SCHEMA, EXCEL_ROWS_SCHEMA_NULLABLE, IngestOptions


class SheetPartition(InputPartition):
    def __init__(self, path: str, sheet: str):
        self.path = path
        self.sheet = sheet


def _expand_paths(path_opt: str) -> list[str]:
    if os.path.isdir(path_opt):
        # A directory written by XlsxWriter carries a _SUCCESS manifest
        # naming the committed part files; honoring it means a reader
        # never sees orphans left by retried/speculative write tasks.
        manifest = os.path.join(path_opt, "_SUCCESS")
        if os.path.exists(manifest):
            import json

            try:
                parts = json.load(open(manifest)).get("parts")
                if parts is not None:
                    return sorted(parts)
            except (OSError, ValueError):
                pass  # plain marker file (other writers) -> glob below
        return sorted(_glob.glob(os.path.join(path_opt, "*.xlsx")))
    hits = sorted(_glob.glob(path_opt))
    return hits or [path_opt]


_EXCEL_ROWS_NAMES = [f.name for f in EXCEL_ROWS_SCHEMA.fields]


class XlsxReader(DataSourceReader):
    def __init__(self, options: dict, schema=None):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("xlsx datasource requires .option('path', ...)")
        self.sheet = options.get("sheet")  # None => every sheet
        # user-provided .schema(...) switches to the generic positional
        # coercion path; ONLY the exact default schema (names AND types)
        # keeps the reference's excel_rows coercion semantics — a schema
        # that merely reuses the names with different types is still the
        # user's contract and must be honored.
        self.user_schema = None
        if schema is not None and (
                [f.name for f in schema.fields] != _EXCEL_ROWS_NAMES
                or [f.dataType.simpleString() for f in schema.fields]
                != [f.dataType.simpleString()
                    for f in EXCEL_ROWS_SCHEMA.fields]):
            self.user_schema = schema
        self.opts = IngestOptions(
            mode=options.get("mode", "PERMISSIVE").upper(),
            null_preserving=str(options.get("null_preserving", "false")).lower()
            == "true",
        )

    def partitions(self) -> list[SheetPartition]:
        # One partition per (file, sheet): the unit our sequential XML
        # parser can process independently. Listing sheets is a cheap
        # zip-central-directory read, done once on the driver.
        from .xlsx import sheet_names

        parts: list[SheetPartition] = []
        for p in _expand_paths(self.path):
            sheets = [self.sheet] if self.sheet else sheet_names(p)
            parts.extend(SheetPartition(p, s) for s in sheets)
        return parts

    def read(self, partition: SheetPartition):
        # Runs on executors: stream-parse one sheet, yield typed tuples.
        from ..ingest import coerce_row
        from .xlsx import iter_xlsx_rows

        rows = iter_xlsx_rows(partition.path, partition.sheet)
        next(rows, None)  # header skipped unconditionally (src/main.rs:67)
        if self.user_schema is not None:
            coercers = [_field_coercer(f.dataType) for f in self.user_schema.fields]
            for cells in rows:
                vals = list(cells)
                yield tuple(
                    co(vals[i]) if i < len(vals) else None
                    for i, co in enumerate(coercers))
            return
        for cells in rows:
            out = coerce_row(list(cells), self.opts)
            if out is not None:
                yield out


def _field_coercer(dtype):
    """Positional cell -> Spark type coercion for user-schema reads
    (xlsx numeric cells always parse as float; '' and None are NULL)."""
    from pyspark.sql.types import (BooleanType, DoubleType, FloatType,
                                   IntegerType, LongType)

    def null_if_empty(fn):
        return lambda v: None if v is None or v == "" else fn(v)

    if isinstance(dtype, (LongType, IntegerType)):
        return null_if_empty(lambda v: int(float(v)))
    if isinstance(dtype, (DoubleType, FloatType)):
        return null_if_empty(float)
    if isinstance(dtype, BooleanType):
        return null_if_empty(lambda v: bool(v) if not isinstance(v, str)
                             else v.strip().lower() in ("1", "true"))
    # strings: only a truly absent cell is NULL — '' is a value
    return lambda v: None if v is None else str(v)


class XlsxCommitMessage(WriterCommitMessage):
    def __init__(self, path: str | None, rows: int):
        self.path = path
        self.rows = rows


class XlsxWriter(DataSourceWriter):
    """Executor-parallel xlsx sink: each task writes one part-N.xlsx
    (header + its partition's rows) under the target directory with a
    collision-free name; the driver-side commit atomically rewrites the
    _SUCCESS manifest naming exactly the committed parts. Readers honor
    the manifest (_expand_paths), so a retried task's orphan file is
    invisible — the same rename-free commit protocol cloud object
    stores need. Overwrite defers destruction to commit(): old parts
    stay on disk AND in the manifest until the new ones are fully
    written, so a failed overwrite job leaves the previous output
    readable; the swap is the manifest replace, and old parts are
    garbage-collected only afterwards. abort() deletes whatever the
    failed job wrote."""

    def __init__(self, options: dict, schema, overwrite: bool):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("xlsx sink requires .option('path', ...)")
        self.header = [f.name for f in schema.fields]
        self.overwrite = overwrite
        os.makedirs(self.dir, exist_ok=True)

    def _committed(self, exclude: frozenset = frozenset()
                   ) -> tuple[list[str], int]:
        """Parts + row count named by the current manifest (empty when
        absent/foreign). Pre-manifest loose *.xlsx files are treated as
        committed data for append/GC purposes — their rows are COUNTED
        (one header row each excluded), so the manifest's audit total
        stays truthful instead of silently adopting them as rows=0 and
        undercounting every append thereafter. `exclude` must name the
        in-flight job's own freshly-written parts: executors write
        BEFORE commit, so the loose-file glob would otherwise adopt
        (and double-count) the very rows this commit is adding."""
        import json

        manifest = os.path.join(self.dir, "_SUCCESS")
        if os.path.exists(manifest):
            try:
                doc = json.load(open(manifest))
                parts = doc.get("parts")
                if parts is not None:
                    return list(parts), int(doc.get("rows", 0))
            except (OSError, ValueError):
                pass
        loose = sorted(p for p in _glob.glob(os.path.join(self.dir, "*.xlsx"))
                       if p not in exclude)
        rows = 0
        for p in loose:
            try:
                from .xlsx import iter_xlsx_rows

                rows += max(0, sum(1 for _ in iter_xlsx_rows(p)) - 1)
            except Exception:
                pass  # unreadable part: keep it listed, count nothing
        return loose, rows

    def write(self, iterator):
        import uuid

        from pyspark import TaskContext

        from .xlsx_writer import write_xlsx

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        rows = [list(r) for r in iterator]
        if not rows:  # empty partition: no file, nothing to commit
            return XlsxCommitMessage(None, 0)
        path = os.path.join(self.dir,
                            f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.xlsx")
        write_xlsx(path, [self.header] + rows)
        return XlsxCommitMessage(path, len(rows))

    def commit(self, messages):
        import json

        new_parts = sorted(m.path for m in messages if m and m.path)
        total = sum(m.rows for m in messages if m)
        old_parts, old_rows = self._committed(exclude=frozenset(new_parts))
        if self.overwrite:
            parts = new_parts
        else:  # append: the manifest must keep naming prior commits
            parts = sorted(set(old_parts) | set(new_parts))
            total += old_rows
        # Atomic swap: readers see either the old manifest or the new
        # one, never a torn write.
        manifest = os.path.join(self.dir, "_SUCCESS")
        tmp = manifest + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"parts": parts, "rows": total}, fh)
        os.replace(tmp, manifest)
        if self.overwrite:  # GC only after the new manifest is live
            for p in set(old_parts) - set(new_parts):
                if os.path.exists(p):
                    os.remove(p)

    def abort(self, messages):
        for m in messages:
            if m and m.path and os.path.exists(m.path):
                os.remove(m.path)


class XlsxDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "xlsx"

    def schema(self):
        if str(self.options.get("null_preserving", "false")).lower() == "true":
            return EXCEL_ROWS_SCHEMA_NULLABLE
        return EXCEL_ROWS_SCHEMA

    def reader(self, schema) -> XlsxReader:
        return XlsxReader(dict(self.options), schema)

    def writer(self, schema, overwrite: bool) -> XlsxWriter:
        return XlsxWriter(dict(self.options), schema, overwrite)
