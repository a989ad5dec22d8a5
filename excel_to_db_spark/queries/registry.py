"""Query registry — the driver contract's backing store.

Every operator from SURVEY.md §2 registers here as a named QuerySpec:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (whenever the
semantics are SQL-expressible) a DuckDB oracle SQL string that must
produce the identical result (same column names; values hash-compared
order-insensitively by the driver).

Oracle-writing discipline (SURVEY.md §4.3 / FIXTURES.md §3): alias every
computed column identically on both sides, pin NULLS FIRST/LAST, round
float aggregates so summation order can't flip the hash, cast where the
engines' natural result types differ (e.g. DuckDB row_number -> BIGINT
vs Spark INT).
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None = None     # None => driver does a rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None):
    """Decorator: register a Spark query under `name`."""
    def deco(fn: SparkQuery) -> SparkQuery:
        # A duplicate name would SILENTLY shadow the earlier key (plain
        # dict assignment) and drop its coverage — a real shipped bug
        # (map_funcs, round 5): fail loudly at import instead.
        if name in REGISTRY:
            raise ValueError(
                f"query key {name!r} already registered "
                f"(by {REGISTRY[name].fn.__module__}); rename one")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle)
        return fn
    return deco


def oracle_sqls() -> dict[str, str]:
    return {k: v.oracle for k, v in REGISTRY.items() if v.oracle is not None}


@functools.cache
def _scratch_root() -> str:
    root = tempfile.mkdtemp(prefix="e2db_run_")
    atexit.register(shutil.rmtree, root, True)
    return root


def scratch_dir(prefix: str) -> str:
    """A fresh directory ``e2db_<prefix>_*`` for the files a key writes
    and reads back. The returned frames read these files lazily, so no
    directory goes while the process runs: all of them live under one
    per-process root, made on first use and removed at exit."""
    return tempfile.mkdtemp(prefix=f"e2db_{prefix}_", dir=_scratch_root())
