"""What building a catalog key leaves in the session and on disk: no
temp view, and no scratch directory once the process exits."""

from __future__ import annotations

import os
import pathlib
import re
import subprocess
import sys

from conftest import SF_DIR

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "excel_to_db_spark"

# Keys whose SQL text reads a frame: each binds it as a DataFrame
# argument, or drops the view it binds by name once the frame is
# analysed.
SQL_OVER_FRAMES = (
    "filter_glob", "date_strftime_compat", "udtf_lateral", "udtf_arrow",
    "cte_query", "subquery_scalar", "subquery_correlated",
    "agg_grouping_sets", "lateral_topn", "anti_join_nulls",
    "sql_parameterized", "sql_scripting", "sql_declared_udf",
    "string_collation_group", "sql_identifier_clause", "sql_pipe_syntax",
    "sql_session_variables", "sql_group_by_all", "sql_group_order_all",
)


def test_sql_keys_leave_no_temp_view(spark):
    from excel_to_db_spark.queries import REGISTRY

    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = views()
    for key in SQL_OVER_FRAMES:
        REGISTRY[key].fn(spark, SF_DIR).collect()
    assert views() == before


def test_scratch_dirs_have_one_owner():
    """mkdtemp/mktemp outside the owner is a directory nothing removes."""
    pat = re.compile(r"\bmk(d)?temp\(")
    owners = {"queries/registry.py", "streaming/replay.py"}
    found = {p.relative_to(PKG).as_posix() for p in PKG.rglob("*.py")
             if pat.search(p.read_text())}
    assert found == owners


def test_scratch_dirs_go_at_exit(tmp_path):
    """The frames read their staged files lazily, so the dirs outlive
    the build; the process exit removes them."""
    code = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from pyspark.sql import SparkSession
from excel_to_db_spark.queries import REGISTRY
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
for key in ("join_dpp_pruned", "csv_roundtrip", "sqlite_roundtrip"):
    assert REGISTRY[key].fn(spark, {SF_DIR!r}).collect(), key
import glob, os, tempfile
assert glob.glob(os.path.join(tempfile.gettempdir(), "e2db_*"))
spark.stop()
"""
    env = dict(os.environ, TMPDIR=str(tmp_path))
    run = subprocess.run([sys.executable, "-c", code], env=env, cwd=REPO,
                         timeout=300, capture_output=True, text=True)
    assert run.returncode == 0, run.stderr[-3000:]
    assert not list(tmp_path.glob("e2db_*"))
