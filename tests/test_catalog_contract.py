"""The driver contract's catalog: the key counts a registering import
could silently drop, and the paper-surface keys against their oracles
with tools/check.py's normalizer."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

import __spark_entry__ as E
import bench

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check import _row_multiset  # noqa: E402

PAPER_SURFACE = ("excel_scan", "load_rowcount", "display_format",
                 "csv_export", "excel_datasource")


def test_catalog_key_counts():
    from excel_to_db_spark.queries import REGISTRY

    assert len(E.queries()) == 674
    oracles = E.oracle_sql()
    assert len(oracles) == 674 and set(oracles) <= set(REGISTRY)
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)) == 232
    assert set(bench.HEADLINE) <= set(REGISTRY)


@pytest.mark.parametrize("key", PAPER_SURFACE)
def test_paper_surface_key_matches_oracle(spark, sf_dir, key):
    df = E.queries()[key](spark, sf_dir)
    s_cols, s_rows = df.columns, [tuple(r) for r in df.collect()]
    cur = duckdb.sql(E.oracle_sql()[key])
    d_cols, d_rows = cur.columns, cur.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert _row_multiset(s_cols, s_rows) == _row_multiset(d_cols, d_rows)
