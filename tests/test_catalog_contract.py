"""The driver contract's catalog: the key counts a registering import
could silently drop, and the paper-surface keys and every caller of a
`numerics` or `tradegraph` twin against their oracles through
tools/check.py's comparison."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

import __spark_entry__ as E
import bench

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check import TABLES, compare  # noqa: E402

from excel_to_db_spark.numerics import (  # noqa: E402
    h32_sql, units_sum_sql, wide_sql)
from excel_to_db_spark.queries.tradegraph import (  # noqa: E402
    SUPP_PART_SQL, cust_supp_edges_sql, nation_pairs_sql)

PAPER_SURFACE = ("excel_scan", "load_rowcount", "display_format",
                 "csv_export", "excel_datasource")

# Text a twin writes into an oracle (the md5 prefix of `h32_sql`,
# which `u01_sql` wraps, the A-S constant of `erfc_sql`, which
# `chi2_sf_sql` wraps, the unit-sum head of `units_sum_sql`, which
# `fixed_sum_sql` and `cents_sum_sql` wrap, the HUGEINT cast of
# `wide_sql`, which `comoment_sql` and `wide_quot_sql` wrap, and the
# heads of the trade-graph twins): a key whose oracle holds one must
# agree with Spark through that twin, so a new caller is checked here
# without a list edit.
_TWIN_TEXT = (h32_sql("x").split("md5(")[0], "0.3275911",
              units_sum_sql("x").split("x")[0], wide_sql("x").split("x")[1],
              nation_pairs_sql().split(" AS v")[0],
              cust_supp_edges_sql().split(" AS c,")[0],
              SUPP_PART_SQL.split(" AS s,")[0])
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
    s_rows = [tuple(r) for r in df.collect()]
    rel = duck.sql(E.oracle_sql()[key])
    assert compare(df, s_rows, rel, rel.fetchall()) == []


def test_compare_fails_the_driver_hash_fail_types(spark):
    """A DecimalType frame and a HUGEINT oracle column each fail the
    gate even where names and values agree: the driver fetches both
    through pandas and hashes them as another type."""
    for spark_sql, duck_sql, what in (
            ("SELECT CAST(1 AS DECIMAL(10, 0)) AS x",
             "SELECT CAST(1 AS DECIMAL(10, 0)) AS x", "DecimalType"),
            ("SELECT 1L AS x", "SELECT CAST(1 AS HUGEINT) AS x", "HUGEINT")):
        df = spark.sql(spark_sql)
        rel = duckdb.sql(duck_sql)
        problems = compare(df, [tuple(r) for r in df.collect()],
                           rel, rel.fetchall())
        assert len(problems) == 1 and what in problems[0]


@pytest.mark.parametrize("key", PAPER_SURFACE)
def test_paper_surface_key_matches_oracle(spark, duck, sf_dir, key):
    _assert_matches_oracle(spark, duck, sf_dir, key)


def test_numerics_callers_are_found():
    assert len(NUMERICS_CALLERS) >= 269
    assert {"geo_knn_topk", "stats_sign_test", "privacy_dp_median",
            "text_winnowing", "cte_query", "agg_groupby", "stats_anova_f",
            "text_zipf_fit", "graph_pagerank3", "graph_hits"} \
        <= set(NUMERICS_CALLERS)


@pytest.mark.parametrize("key", NUMERICS_CALLERS)
def test_numerics_caller_matches_oracle(spark, duck, sf_dir, key):
    _assert_matches_oracle(spark, duck, sf_dir, key)
