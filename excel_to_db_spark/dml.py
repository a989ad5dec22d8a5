"""REPL DML/DDL over temp views — the reference's mutable-table parity.

The reference prepares and executes ANY statement against its embedded
SQLite (reference src/main.rs:220), so `INSERT` / `UPDATE` / `DELETE` /
`CREATE TABLE` / `DROP TABLE` typed at its REPL just work. Spark temp
views are read-only relations, so this module evaluates the table a
mutating statement leaves, once, and re-registers it under the same
name (`_store`).

REPL tables live on the driver, as the reference's rows live in its
in-memory SQLite: each is one pyarrow Table of stored values behind a
one-partition `ingest.arrow_frame`. A write is one Spark job, and no
later read re-runs it (`current_timestamp()` reads back the same).
`CREATE TEMP VIEW … AS` passes through to `spark.sql` and stays lazy,
for results too big for the driver; durable mutation goes through
`sinks/`. DDL looks one name up and runs no job.

Statement grammar is intentionally the reference's subset: one target
table, no joins in UPDATE/DELETE, standard INSERT forms. Anything that
doesn't match the patterns falls through to `spark.sql` untouched, so
Spark-native DDL (CREATE TEMP VIEW, etc.) keeps working and unsupported
syntax fails loudly with Spark's own error.
"""

from __future__ import annotations

import re

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .compat.sqlite_dialect import find_top_level, split_top_level
from .ingest import arrow_frame

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"

_INSERT_RE = re.compile(
    rf"(?is)^\s*insert\s+into\s+({_IDENT})\s*"
    rf"(?:\(\s*({_IDENT}(?:\s*,\s*{_IDENT})*)\s*\))?"
    rf"\s*((?:values|select)\b.*)$")
_DELETE_RE = re.compile(
    rf"(?is)^\s*delete\s+from\s+({_IDENT})\s*(?:where\s+(.+?))?\s*$")
_UPDATE_RE = re.compile(
    rf"(?is)^\s*update\s+({_IDENT})\s+set\s+(.+?)\s*$")
_CREATE_AS_RE = re.compile(
    rf"(?is)^\s*create\s+(?:or\s+replace\s+)?table\s+"
    rf"(if\s+not\s+exists\s+)?({_IDENT})\s+as\s+(select\b.+)$")
_CREATE_COLS_RE = re.compile(
    rf"(?is)^\s*create\s+table\s+(if\s+not\s+exists\s+)?({_IDENT})\s*"
    rf"\((.+)\)\s*$")
_DROP_RE = re.compile(
    rf"(?is)^\s*drop\s+(?:table|view)\s+(if\s+exists\s+)?({_IDENT})\s*$")

# SQLite declared types -> Spark types (SQLite affinity rules, reference
# table DDL uses TEXT/REAL/INTEGER — src/main.rs:182-188).
_TYPE_MAP = {
    "TEXT": "string", "CHAR": "string", "VARCHAR": "string",
    "CLOB": "string", "STRING": "string",
    "INT": "bigint", "INTEGER": "bigint", "BIGINT": "bigint",
    "SMALLINT": "bigint", "TINYINT": "bigint",
    "REAL": "double", "FLOAT": "double", "DOUBLE": "double",
    "NUMERIC": "double", "DECIMAL": "double",
    "BLOB": "binary", "BOOLEAN": "boolean",
    "DATE": "date", "DATETIME": "timestamp", "TIMESTAMP": "timestamp",
}
_TABLE_CONSTRAINT = re.compile(
    r"(?is)^\s*(primary\s+key|unique|check|foreign\s+key|constraint)\b")
_WHERE_RE = re.compile(r"(?i)\bwhere\b")
_FLAG = "__dml_flag__"


def _store(spark: SparkSession, name: str, df: DataFrame,
           flag: str | None = None, delete: bool = False) -> int:
    """Evaluate `df` in one Spark job and register its values as table
    `name`, as SQLite stores what a statement wrote. Return the number
    of rows the boolean column `flag` marks (every row without one);
    `flag` is dropped, and with `delete` so are the rows it marks."""
    table, schema = df.toArrow(), df.schema
    n = table.num_rows
    if flag is not None:
        marks = table.column(flag)
        n = pc.sum(marks).as_py() or 0
        if delete:
            table = table.filter(pc.invert(marks))
        table = table.drop_columns(flag)
        schema = StructType([f for f in schema if f.name != flag])
    arrow_frame(spark, table, schema).createOrReplaceTempView(name)
    return n


def _flagged(target: DataFrame, where: str | None) -> DataFrame:
    """`target` plus the `_FLAG` column: true where `where` holds (NULL
    counts as false, as in SQL), true everywhere without a WHERE."""
    hit = f"coalesce(({where}), false)" if where else "true"
    return target.selectExpr("*", f"{hit} AS {_FLAG}")


def _align_to(target: DataFrame, src: DataFrame) -> DataFrame:
    """Project `src` onto `target`'s schema: missing columns become NULL,
    every column cast to the target type, target column order."""
    by_lower = {c.lower(): F.col(c) for c in src.columns}
    return src.select(*[by_lower.get(name.lower(), F.lit(None))
                        .cast(dtype).alias(name)
                        for name, dtype in target.dtypes])


def _insert(spark: SparkSession, name: str, col_list: str | None,
            tail: str) -> str:
    target = spark.table(name)
    src = spark.sql(tail)  # `VALUES (...)` and `SELECT ...` both parse
    names = target.columns
    if col_list:
        names = [c.strip() for c in col_list.split(",")]
        # SQLite errors on unknown INSERT columns; silently NULL-filling
        # a typo'd column list would corrupt instead of failing loudly.
        known = {c.lower() for c in target.columns}
        bad = [c for c in names if c.lower() not in known]
        if bad:
            raise ValueError(
                f"INSERT: table {name} has no column(s) {bad} "
                f"(columns: {target.columns})")
    if len(names) != len(src.columns):
        raise ValueError(f"INSERT into {name} names {len(names)} columns "
                         f"but the source produces {len(src.columns)}")
    src = _align_to(target, src.toDF(*names))
    n = _store(spark, name, target.withColumn(_FLAG, F.lit(False))
               .union(src.withColumn(_FLAG, F.lit(True))), _FLAG)
    return f"-- {n} row(s) inserted into {name}"


def _update(spark: SparkSession, name: str, tail: str) -> str:
    # A 'where' inside a quoted token or a function call is data.
    w = find_top_level(tail, _WHERE_RE)
    set_clause, where = ((tail[:w], tail[w + len("where"):].strip())
                         if w >= 0 else (tail, None))
    target = spark.table(name)
    dtypes = dict(target.dtypes)
    # Column resolution is case-insensitive (Spark SQL and SQLite both
    # are) and accepts `x` / "x" quoted identifiers.
    by_lower = {c.lower(): c for c in dtypes}
    assigns: dict[str, str] = {}
    for a in filter(None, split_top_level(set_clause)):
        col, eq, expr = a.partition("=")
        col = col.strip().strip('`"')
        resolved = by_lower.get(col.lower())
        if not eq or resolved is None:
            raise ValueError(f"UPDATE: bad assignment {a!r} "
                             f"(columns: {list(dtypes)})")
        assigns[resolved] = expr.strip()
    # The flag is computed once, below the projection that reads it, so
    # a nondeterministic WHERE counts the rows it updates.
    exprs = [f"CASE WHEN {_FLAG} THEN CAST(({assigns[c]}) AS {dtypes[c]}) "
             f"ELSE `{c}` END AS `{c}`"  # the column keeps its type
             if c in assigns else f"`{c}`" for c in target.columns]
    n = _store(spark, name,
               _flagged(target, where).selectExpr(*exprs, _FLAG), _FLAG)
    return f"-- {n} row(s) updated in {name}"


def _delete(spark: SparkSession, name: str, where: str | None) -> str:
    # SQL DELETE removes rows where the WHERE IS TRUE; NULL/false survive.
    n = _store(spark, name, _flagged(spark.table(name), where), _FLAG,
               delete=True)
    return f"-- {n} row(s) deleted from {name}"


def _create_as(spark: SparkSession, if_not_exists: bool, name: str,
               select: str) -> str:
    if if_not_exists and spark.catalog.tableExists(name):
        return f"-- table {name} already exists (skipped)"
    df = spark.sql(select)
    _store(spark, name, df)
    return f"-- table {name} created ({len(df.columns)} columns)"


def _create_cols(spark: SparkSession, if_not_exists: bool, name: str,
                 body: str) -> str:
    if if_not_exists and spark.catalog.tableExists(name):
        return f"-- table {name} already exists (skipped)"
    fields = []
    for defn in filter(None, split_top_level(body)):
        if _TABLE_CONSTRAINT.match(defn):
            continue                      # PRIMARY KEY(...) etc: metadata only
        toks = defn.split()
        col = toks[0].strip('`"')
        declared = toks[1].upper().split("(")[0] if len(toks) > 1 else "TEXT"
        fields.append(f"`{col}` {_TYPE_MAP.get(declared, 'string')}")
    if not fields:
        raise ValueError(f"CREATE TABLE {name}: no column definitions")
    empty = arrow_frame(spark, [], StructType.fromDDL(", ".join(fields)))
    empty.createOrReplaceTempView(name)
    return f"-- table {name} created ({len(fields)} columns)"


def _drop(spark: SparkSession, if_exists: bool, name: str) -> str:
    if not spark.catalog.tableExists(name):
        if if_exists:
            return f"-- table {name} does not exist (skipped)"
        raise ValueError(f"DROP TABLE: no such table {name}")
    dropped = (spark.catalog.dropTempView(name)
               or spark.catalog.dropGlobalTempView(name))
    if not dropped:
        # Catalog-listed but not a temp view: a permanent table this
        # temp-view DML layer cannot drop — say so instead of lying.
        raise ValueError(
            f"DROP TABLE: {name} is a permanent catalog table, not a "
            "temp view; drop it via spark.sql('DROP TABLE ...')")
    return f"-- table {name} dropped"


def try_dml(spark: SparkSession, sql: str) -> str | None:
    """Execute `sql` as a mutating statement if it matches the supported
    DML/DDL grammar; return a status line, or None to fall through to the
    plain `spark.sql` passthrough."""
    if m := _INSERT_RE.match(sql):
        return _insert(spark, m.group(1), m.group(2), m.group(3))
    if m := _UPDATE_RE.match(sql):
        return _update(spark, m.group(1), m.group(2))
    if m := _DELETE_RE.match(sql):
        return _delete(spark, m.group(1), m.group(2))
    if m := _CREATE_AS_RE.match(sql):
        return _create_as(spark, bool(m.group(1)), m.group(2), m.group(3))
    if m := _CREATE_COLS_RE.match(sql):
        return _create_cols(spark, bool(m.group(1)), m.group(2), m.group(3))
    if m := _DROP_RE.match(sql):
        return _drop(spark, bool(m.group(1)), m.group(2))
    return None
