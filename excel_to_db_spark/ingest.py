"""Excel -> Spark table ingest with the reference's executed semantics.

Reference behavior being reproduced (SURVEY.md §1):

- header row skipped unconditionally (src/main.rs:67)
- columns mapped POSITIONALLY, header names ignored (src/main.rs:69-75)
- fixed 5-column schema: service_name TEXT NOT NULL, three REAL, one
  INTEGER (DDL at src/main.rs:182-188)
- missing / non-float numeric cell -> 0.0, non-int count -> 0
  (unwrap_or defaults, src/main.rs:71-75); a null-preserving mode is
  offered as an option (the reference's dead serde path,
  src/main.rs:37-47, would have done this)
- service_name must be unique (intended unique index,
  src/main.rs:189-190); enforced here on the driver over the coerced
  rows, before any DataFrame exists, since Spark has no index or
  constraint system
- reference PANICS on a short row or non-string first cell
  (src/main.rs:69-75); we default to PERMISSIVE (per-row repair) with a
  FAILFAST option, mirroring Spark reader mode semantics
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass
from typing import Any, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (ArrayType, DataType, DoubleType, LongType,
                               MapType, StringType, StructField, StructType)

from .sources.xlsx import iter_xlsx_rows

EXCEL_ROWS_SCHEMA = StructType([
    StructField("service_name", StringType(), False),
    StructField("average_response_time_95_ms", DoubleType(), False),
    StructField("count", LongType(), False),
    StructField("max_response_time_95_ms", DoubleType(), False),
    StructField("min_response_time_95_ms", DoubleType(), False),
])

# Null-preserving variant (optional mode): numeric columns nullable.
EXCEL_ROWS_SCHEMA_NULLABLE = StructType(EXCEL_ROWS_SCHEMA[:1].fields + [
    StructField(f.name, f.dataType, True) for f in EXCEL_ROWS_SCHEMA[1:]])


class DuplicateKeyError(ValueError):
    """Raised when service_name uniqueness (the reference's intended
    unique index) is violated at load time."""


@dataclass
class IngestOptions:
    mode: str = "PERMISSIVE"          # or "FAILFAST" (reference panics)
    null_preserving: bool = False     # True = serde-path semantics (NULLs)


def _coerce_f64(v: Any) -> float | None:
    """calamine get_float semantics: numeric cells only."""
    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return float(v)
    return None


def _coerce_i64(v: Any) -> int | None:
    """calamine as_i64: int, any finite float (TRUNCATED, 2.7 -> 2 —
    matching calamine's Float-as-i64 cast), or numeric string."""
    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return int(v) if v == v and abs(v) != float("inf") else None
    if isinstance(v, str):
        try:
            return int(v.strip())
        except ValueError:
            return None
    return None


def coerce_row(cells: list[Any], opts: IngestOptions) -> tuple | None:
    """One sheet row -> one typed excel_rows tuple (or None to drop)."""
    padded = list(cells) + [None] * (5 - len(cells)) if len(cells) < 5 else cells
    name = padded[0]
    if not isinstance(name, str):
        if opts.mode == "FAILFAST":
            raise ValueError(f"non-string service_name cell: {name!r}")
        if name is None:
            return None  # permissive: unkeyable row dropped
        name = str(name)
    if opts.mode == "FAILFAST" and len(cells) < 5:
        raise ValueError(f"short row ({len(cells)} cells): {cells!r}")
    avg = _coerce_f64(padded[1])
    cnt = _coerce_i64(padded[2])
    mx = _coerce_f64(padded[3])
    mn = _coerce_f64(padded[4])
    if not opts.null_preserving:
        avg = 0.0 if avg is None else avg
        cnt = 0 if cnt is None else cnt
        mx = 0.0 if mx is None else mx
        mn = 0.0 if mn is None else mn
    return (name, avg, cnt, mx, mn)


def arrow_frame(spark: SparkSession, rows: list[tuple] | pa.Table,
                schema: StructType) -> DataFrame:
    """Driver-held rows -> a one-partition DataFrame over one pyarrow
    Table (:func:`from_arrow`). ``rows`` is typed tuples, or a Table in
    ``schema``'s Arrow shape (``DataFrame.toArrow()``). A value that does
    not fit its column type (a bigint past 2^63) raises ValueError.

    One partition (a narrow coalesce, no shuffle) meets what aggregates,
    windows, sorts and count() require, so a statement over the frame
    plans no Exchange and runs as one job. An xlsx sheet has at most
    1,048,576 rows; for sheets too big for the driver, use
    sources.datasource.XlsxDataSource or stage to parquet first."""
    table = rows if isinstance(rows, pa.Table) else _arrow_table(rows, schema)
    return from_arrow(spark, table, schema).coalesce(1)


def from_arrow(spark: SparkSession, table: pa.Table,
               schema: StructType) -> DataFrame:
    """A pyarrow Table in ``schema``'s Arrow shape -> a DataFrame over a
    LocalRelation: building it submits no job, and scanning it runs in
    the JVM only. Fields nested in a struct, array or map value become
    nullable (top-level ones keep theirs): PySpark rebuilds nested Arrow
    arrays as nullable, which pyarrow 16 will not cast to non-null."""
    schema = StructType([StructField(f.name, _nested_nullable(f.dataType),
                                     f.nullable, f.metadata) for f in schema])
    return spark.createDataFrame(table.cast(to_arrow_schema(schema)), schema)


def _nested_nullable(dt: DataType) -> DataType:
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _nested_nullable(f.dataType))
                           for f in dt])
    if isinstance(dt, ArrayType):
        return ArrayType(_nested_nullable(dt.elementType))
    if isinstance(dt, MapType):  # Arrow map keys are never null
        return MapType(dt.keyType, _nested_nullable(dt.valueType))
    return dt


def _arrow_table(rows: list[tuple], schema: StructType) -> pa.Table:
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = [_arrow_column(values, field, arrow_field.type)
              for values, field, arrow_field
              in zip(columns, schema.fields, arrow_schema)]
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def _arrow_column(values: tuple, field: StructField,
                  arrow_type: pa.DataType) -> pa.Array:
    try:
        return pa.array(values, arrow_type)
    except (OverflowError, pa.ArrowException) as exc:
        for v in values:
            try:
                pa.scalar(v, arrow_type)
            except (OverflowError, pa.ArrowException):
                raise ValueError(
                    f"value {v!r} does not fit column {field.name} "
                    f"({field.dataType.simpleString()})") from exc
        raise


def rows_to_dataframe(spark: SparkSession, sheet_rows: Iterable[list[Any]],
                      opts: IngestOptions | None = None) -> DataFrame:
    """Sheet rows (header first) -> the excel_rows DataFrame: header
    skipped, each row coerced, service_name checked unique, all on the
    driver; then one Arrow hand-off, the distributed analogue of the
    reference's FFI hop into SQLite."""
    opts = opts or IngestOptions()
    it = iter(sheet_rows)
    next(it, None)  # header skipped unconditionally (src/main.rs:67)
    data = [r for r in (coerce_row(row, opts) for row in it) if r is not None]
    check_unique_key(data)
    schema = EXCEL_ROWS_SCHEMA_NULLABLE if opts.null_preserving else EXCEL_ROWS_SCHEMA
    return arrow_frame(spark, data, schema)


def check_unique_key(rows: list[tuple], key: str = "service_name") -> None:
    """Raise DuplicateKeyError when ``key`` repeats among coerced
    excel_rows tuples (up to 20 repeated values, in sheet order)."""
    i = EXCEL_ROWS_SCHEMA.fieldNames().index(key)
    dupes = [k for k, n in Counter(r[i] for r in rows).items() if n > 1]
    if dupes:
        raise DuplicateKeyError(
            f"duplicate {key} values at load: {dupes[:20]}")


def load_excel_table(spark: SparkSession, path: str, sheet: str | None = None,
                     view_name: str = "excel_rows",
                     opts: IngestOptions | None = None) -> DataFrame:
    """Full ingest pipeline: parse -> coerce -> uniqueness check ->
    DataFrame -> temp view over the driver-held rows, uncached (the
    reference's in-memory SQLite db). A rejected sheet raises before
    any view exists.

    This is the reference-semantics path (fixed positional 5-column
    schema, header names ignored). For arbitrary sheets, the optional
    inference path is :func:`load_excel_table_inferred` — kept separate
    and OFF by default so reference parity stays byte-exact."""
    opts = opts or IngestOptions()
    df = rows_to_dataframe(spark, iter_xlsx_rows(path, sheet), opts)
    df.createOrReplaceTempView(view_name)
    return df


# ---------------------------------------------------------------------------
# Optional schema inference (round 7; OFF by default — the reference's
# loader, src/main.rs:67-75, ignores header names and fixes the schema,
# so inference is a new capability, not a parity behavior).

_IDENT_RE = re.compile(r"[^0-9A-Za-z_]+")


def _sanitize_names(header: list[Any] | None, width: int) -> list[str]:
    """Header cells -> unique Spark-safe column names; positional
    col_N fallbacks for missing/blank/non-string headers."""
    names: list[str] = []
    seen: dict[str, int] = {}
    for i in range(width):
        raw = header[i] if header and i < len(header) else None
        name = _IDENT_RE.sub("_", str(raw).strip()) if raw is not None else ""
        name = name.strip("_") or f"col_{i}"
        if name[0].isdigit():
            name = f"c_{name}"
        n = seen.get(name, 0)
        seen[name] = n + 1
        names.append(name if n == 0 else f"{name}_{n + 1}")
    return names


def _unify_type(acc: str | None, v: Any) -> str | None:
    """Fold one cell into a column's type accumulator. Lattice:
    (none) -> bool | long -> double -> string; any incompatible mix ->
    string. Mirrors spark.read.csv inferSchema's promotion idea, typed
    from the already-decoded Python cells instead of text."""
    if v is None:
        return acc
    if isinstance(v, bool):
        t = "bool"
    elif isinstance(v, int):
        t = "long"
    elif isinstance(v, float):
        t = "double"
    else:
        t = "string"
    if acc is None or acc == t:
        return t
    if {acc, t} == {"long", "double"}:
        return "double"
    return "string"


_SPARK_TYPES = {"bool": "boolean", "long": "bigint",
                "double": "double", "string": "string"}


def infer_excel_schema(rows: list[list[Any]], header: list[Any] | None,
                       sample: int | None = None) -> StructType:
    """Infer a StructType from decoded sheet rows. ``sample`` limits how
    many rows vote (None = all rows — like Spark's CSV inference
    default, so a late type change can't be silently mis-coerced).
    All columns come out nullable: xlsx omits empty cells, so
    non-nullability is never provable from data."""
    from pyspark.sql.types import _parse_datatype_string

    # Width is the max of the widest DATA row and the header: a header
    # wider than every body row (trailing all-empty columns — xlsx omits
    # empty cells) must still contribute its named columns, as
    # all-null strings (ADVICE r7: the old widest-row-only width
    # silently dropped them).
    width = max(max((len(r) for r in rows), default=0),
                len(header or []))
    if width == 0:
        raise ValueError(
            "cannot infer a schema from a sheet with no data rows and "
            "no header row — pass an explicit schema or a sheet with "
            "at least a header")
    accs: list[str | None] = [None] * width
    voting = rows if sample is None else rows[:sample]
    for r in voting:
        for i, v in enumerate(r):
            accs[i] = _unify_type(accs[i], v)
    names = _sanitize_names(header, width)
    fields = ", ".join(
        f"`{n}` {_SPARK_TYPES[a or 'string']}"
        for n, a in zip(names, accs))
    return _parse_datatype_string(fields)


def _coerce_inferred(v: Any, kind: str, mode: str) -> Any:
    """Cell -> inferred column type. PERMISSIVE nulls out stragglers
    beyond the sampled rows (same contract as Spark's CSV PERMISSIVE
    mode); FAILFAST raises."""
    if v is None:
        return None
    ok: Any
    if kind == "boolean":
        ok = v if isinstance(v, bool) else None
    elif kind == "bigint":
        ok = v if isinstance(v, int) and not isinstance(v, bool) else None
    elif kind == "double":
        ok = float(v) if isinstance(v, (int, float)) \
            and not isinstance(v, bool) else None
    else:  # string: everything prints; bools in SQLite's lowercase
        ok = str(v).lower() if isinstance(v, bool) else str(v)
    if ok is None and mode == "FAILFAST":
        raise ValueError(f"cell {v!r} does not fit inferred type {kind}")
    return ok


def load_excel_table_inferred(spark: SparkSession, path: str,
                              sheet: str | None = None,
                              view_name: str = "excel_rows",
                              header: bool = True,
                              sample: int | None = None,
                              mode: str = "PERMISSIVE") -> DataFrame:
    """Schema-INFERRED xlsx ingest (optional path): header row becomes
    column names (sanitized, deduped; positional col_N fallback),
    per-column types unify over ``sample`` rows (None = all) through a
    none->bool|long->double->string lattice, and every row is coerced to
    the result — PERMISSIVE nulls non-conforming stragglers, FAILFAST
    raises. The reference-parity path (fixed 5-column positional
    schema) stays :func:`load_excel_table`; this is for arbitrary
    sheets."""
    rows = list(iter_xlsx_rows(path, sheet))
    head = rows[0] if header and rows else None
    body = rows[1:] if header and rows else rows
    schema = infer_excel_schema(body, head, sample)
    kinds = [f.dataType.simpleString() for f in schema.fields]
    width = len(kinds)
    data = [
        tuple(_coerce_inferred(r[i] if i < len(r) else None, kinds[i], mode)
              for i in range(width))
        for r in body
    ]
    df = arrow_frame(spark, data, schema)
    df.createOrReplaceTempView(view_name)
    return df
