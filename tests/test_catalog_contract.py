"""The driver contract's catalog: the key counts a registering import
could silently drop, and the paper-surface keys and every caller of a
`numerics` twin against their oracles with tools/check.py's
normalizer."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

import __spark_entry__ as E
import bench

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check import TABLES, _row_multiset  # noqa: E402

from excel_to_db_spark.numerics import (  # noqa: E402
    h32_sql, units_sum_sql, wide_sql)

PAPER_SURFACE = ("excel_scan", "load_rowcount", "display_format",
                 "csv_export", "excel_datasource")

# Text a numerics twin writes into an oracle (the md5 prefix of
# `h32_sql`, which `u01_sql` wraps, the A-S constant of `erfc_sql`,
# which `chi2_sf_sql` wraps, the unit-sum head of `units_sum_sql`,
# which `fixed_sum_sql` and `cents_sum_sql` wrap, and the HUGEINT cast
# of `wide_sql`, which `comoment_sql` and `wide_quot_sql` wrap): a key
# whose oracle holds one must agree with Spark through that twin, so a
# new caller is checked here without a list edit.
_TWIN_TEXT = (h32_sql("x").split("md5(")[0], "0.3275911",
              units_sum_sql("x").split("x")[0], wide_sql("x").split("x")[1])
NUMERICS_CALLERS = sorted(k for k, sql in E.oracle_sql().items()
                          if any(t in sql for t in _TWIN_TEXT))


def test_catalog_key_counts():
    from excel_to_db_spark.queries import REGISTRY

    assert len(E.queries()) == 674
    oracles = E.oracle_sql()
    assert len(oracles) == 674 and set(oracles) <= set(REGISTRY)
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)) == 232
    assert set(bench.HEADLINE) <= set(REGISTRY)


@pytest.fixture(scope="module")
def duck(sf_dir):
    """DuckDB over the same parquet, one view per table (tools/check.py)."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()


def _assert_matches_oracle(spark, duck, sf_dir, key):
    df = E.queries()[key](spark, sf_dir)
    s_cols, s_rows = df.columns, [tuple(r) for r in df.collect()]
    cur = duck.sql(E.oracle_sql()[key])
    d_cols, d_rows = cur.columns, cur.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert _row_multiset(s_cols, s_rows) == _row_multiset(d_cols, d_rows)


@pytest.mark.parametrize("key", PAPER_SURFACE)
def test_paper_surface_key_matches_oracle(spark, duck, sf_dir, key):
    _assert_matches_oracle(spark, duck, sf_dir, key)


def test_numerics_callers_are_found():
    assert len(NUMERICS_CALLERS) >= 253
    assert {"geo_knn_topk", "stats_sign_test", "privacy_dp_median",
            "text_winnowing", "cte_query", "agg_groupby", "stats_anova_f",
            "text_zipf_fit"} \
        <= set(NUMERICS_CALLERS)


@pytest.mark.parametrize("key", NUMERICS_CALLERS)
def test_numerics_caller_matches_oracle(spark, duck, sf_dir, key):
    _assert_matches_oracle(spark, duck, sf_dir, key)
