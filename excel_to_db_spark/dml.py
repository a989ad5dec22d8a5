"""REPL DML/DDL over temp views — the reference's mutable-table parity.

The reference prepares and executes ANY statement against its embedded
SQLite (reference src/main.rs:220), so `INSERT` / `UPDATE` / `DELETE` /
`CREATE TABLE` / `DROP TABLE` typed at its REPL just work. Spark temp
views are read-only relations, so this module re-expresses each mutating
statement as *view re-registration*: the view's current DataFrame (a
captured, already-analyzed logical plan) is combined with the new rows /
filter / column replacement and re-registered under the same name.

Scale posture: this is REPL-session parity, not a storage engine. Each
mutation composes a lazy plan (union / filter / projection) that
Catalyst collapses at execution; state lives in the session catalog
exactly as the reference's state lives in its in-memory SQLite — both
die with the process. A table built on the driver (the loaded sheet, a
column-list CREATE TABLE) is one partition; UPDATE and DELETE keep
that, and INSERT coalesces its union back to one partition. So a
statement over such a table plans no Exchange and runs as one Spark
job, like the reference's one pass over its one table. Durable,
cluster-scale mutation goes through real sinks (`sinks/`
parquet/JDBC/SQLite), not this path.

INSERT stores what it inserted: the source rows are collected once, as
SQLite evaluates them once, so `current_timestamp()` in an INSERT reads
back the same on every later query. UPDATE does not: its SET expression
is part of the view's plan and re-evaluates on every read, so `SET x =
current_timestamp()` drifts. DDL looks one name up in the catalog and
runs no job.

Statement grammar is intentionally the reference's subset: one target
table, no joins in UPDATE/DELETE, standard INSERT forms. Anything that
doesn't match the patterns falls through to `spark.sql` untouched, so
Spark-native DDL (CREATE TEMP VIEW, etc.) keeps working and unsupported
syntax fails loudly with Spark's own error.
"""

from __future__ import annotations

import re

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


def _align_to(target: DataFrame, src: DataFrame) -> DataFrame:
    """Project `src` onto `target`'s schema: missing columns become NULL,
    every column cast to the target type, target column order."""
    cols = []
    src_lower = {c.lower(): c for c in src.columns}
    for name, dtype in target.dtypes:
        c = src_lower.get(name.lower())
        cols.append((F.col(c) if c is not None else F.lit(None))
                    .cast(dtype).alias(name))
    return src.select(*cols)


def _insert(spark: SparkSession, name: str, col_list: str | None,
            tail: str) -> str:
    target = spark.table(name)
    src = spark.sql(tail)  # `VALUES (...)` and `SELECT ...` both parse
    if col_list:
        names = [c.strip() for c in col_list.split(",")]
        if len(names) != len(src.columns):
            raise ValueError(
                f"INSERT column list has {len(names)} names but the "
                f"source produces {len(src.columns)} columns")
        # SQLite errors on unknown INSERT columns; silently NULL-filling
        # a typo'd column list would corrupt instead of failing loudly.
        known = {c.lower() for c in target.columns}
        bad = [c for c in names if c.lower() not in known]
        if bad:
            raise ValueError(
                f"INSERT: table {name} has no column(s) {bad} "
                f"(columns: {target.columns})")
        src = src.toDF(*names)
    else:
        if len(src.columns) != len(target.columns):
            raise ValueError(
                f"INSERT source has {len(src.columns)} columns; "
                f"{name} has {len(target.columns)}")
        src = src.toDF(*target.columns)
    src = _align_to(target, src)
    # Evaluate the source once and store the values, as SQLite does.
    rows = src.toArrow()
    (target.unionByName(arrow_frame(spark, rows, src.schema))
     .coalesce(1).createOrReplaceTempView(name))
    return f"-- {rows.num_rows} row(s) inserted into {name}"


def _update(spark: SparkSession, name: str, tail: str) -> str:
    # A 'where' inside a quoted token or a function call is data.
    w = find_top_level(tail, _WHERE_RE)
    if w >= 0:
        set_clause, where = tail[:w], tail[w + len("where"):].strip()
    else:
        set_clause, where = tail, None
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
    n = target.filter(F.expr(where)).count() if where else target.count()
    exprs = []
    for c in target.columns:
        if c in assigns:
            # keep the column's declared type stable across the rewrite
            new = f"CAST(({assigns[c]}) AS {dtypes[c]})"
            exprs.append(
                f"CASE WHEN ({where}) THEN {new} ELSE `{c}` END AS `{c}`"
                if where else f"{new} AS `{c}`")
        else:
            exprs.append(f"`{c}`")
    target.selectExpr(*exprs).createOrReplaceTempView(name)
    return f"-- {n} row(s) updated in {name}"


def _delete(spark: SparkSession, name: str, where: str | None) -> str:
    target = spark.table(name)
    if where is None:
        n = target.count()
        kept = target.limit(0)
    else:
        pred = F.expr(where)
        n = target.filter(pred).count()
        # SQL DELETE removes rows where pred IS TRUE; NULL/false survive.
        kept = target.filter(~F.coalesce(pred, F.lit(False)))
    kept.createOrReplaceTempView(name)
    return f"-- {n} row(s) deleted from {name}"


def _create_as(spark: SparkSession, if_not_exists: bool, name: str,
               select: str) -> str:
    if if_not_exists and spark.catalog.tableExists(name):
        return f"-- table {name} already exists (skipped)"
    df = spark.sql(select)
    df.createOrReplaceTempView(name)
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
