"""The trade-graph builders (`queries/tradegraph.py`): each Spark
builder against its DuckDB twin and a pandas replay, and the plan
shapes of the graph keys built on them."""

from __future__ import annotations

import os
import re

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR, plan_text
from excel_to_db_spark.queries.tradegraph import (
    SUPP_PART_SQL, cust_supp_edges, cust_supp_edges_sql, nation_pairs,
    nation_pairs_sql, supp_part, top2_partners, top2_partners_sql)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t + '.parquet')}'")
    yield con
    con.close()


def _lines(sf_dir):
    def read(t, cols):
        return pd.read_parquet(f"{sf_dir}/{t}.parquet", columns=cols)
    return (read("lineitem", ["l_orderkey", "l_suppkey"])
            .merge(read("orders", ["o_orderkey", "o_custkey"]),
                   left_on="l_orderkey", right_on="o_orderkey")
            .merge(read("customer", ["c_custkey", "c_nationkey"]),
                   left_on="o_custkey", right_on="c_custkey")
            .merge(read("supplier", ["s_suppkey", "s_nationkey"]),
                   left_on="l_suppkey", right_on="s_suppkey"))


def test_nation_pairs_match_twin_and_replay(spark, duck, sf_dir):
    lines = _lines(sf_dir)
    n = lines.groupby(["c_nationkey", "s_nationkey"]).size()
    replay = {(int(u), int(v), int(c)) for (u, v), c in n.items()}

    got = {tuple(r) for r in nation_pairs(
        spark, sf_dir, F.count("*").alias("n")).collect()}
    twin = set(duck.sql(
        f"WITH {nation_pairs_sql('CAST(count(*) AS BIGINT) AS n')}"
        " SELECT u, v, n FROM pairs").fetchall())
    assert got == twin == replay
    assert any(u == v for u, v, _ in replay)   # self pairs are kept

    distinct = [tuple(r) for r in nation_pairs(spark, sf_dir).collect()]
    assert sorted(distinct) == sorted((u, v) for u, v, _ in replay)


def test_self_pair_filter_runs_below_the_grouping(spark):
    df = nation_pairs(spark, SF_DIR, F.count("*").alias("n")) \
        .filter(F.col("u") != F.col("v"))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.splitlines()[0].startswith("Aggregate")
    assert re.search(r"Join Inner, \(NOT \(c_nationkey#\d+ = s_nationkey", plan)


def test_top2_partners_match_twin(spark, duck, sf_dir):
    got = sorted(tuple(r) for r in top2_partners(spark, sf_dir).collect())
    twin = sorted(duck.sql(f"WITH {top2_partners_sql()}"
                           " SELECT src, dst FROM edges").fetchall())
    assert got == twin
    assert all(s != d for s, d in got)
    per_src = pd.Series([s for s, _ in got]).value_counts()
    assert per_src.max() <= 2


def test_cust_supp_edges_match_twin_and_replay(spark, duck, sf_dir):
    lines = _lines(sf_dir)
    replay = set(zip(lines.o_custkey.astype(int), lines.l_suppkey.astype(int)))
    got = [tuple(r) for r in cust_supp_edges(spark, sf_dir).collect()]
    twin = duck.sql(f"WITH {cust_supp_edges_sql()} SELECT c, s FROM cs")
    assert len(got) == len(set(got))
    assert set(got) == set(twin.fetchall()) == replay


def test_supp_part_matches_twin(spark, duck, sf_dir):
    sp, pc, deg = supp_part(spark, sf_dir)
    for frame, cte, cols in ((sp, "sp", "s, p"), (pc, "pc", "p, c"),
                             (deg, "deg", "s, d")):
        got = sorted(tuple(r) for r in frame.collect())
        twin = sorted(duck.sql(f"WITH {SUPP_PART_SQL} SELECT {cols} "
                               f"FROM {cte}").fetchall())
        assert got == twin, cte


# ------------------------------------------------------- plan shapes

def _no_checkpoint(monkeypatch):
    """Swap every lineage cut for the identity so iterative keys'
    UNROLLED plans (every round's joins) are assertable — the
    tools/explain.py EXPLAIN_NO_CHECKPOINT swap."""
    from excel_to_db_spark.operators import physical

    monkeypatch.setattr(physical, "cut", lambda df: df)


def test_wedge_keys_share_one_checkpointed_edge_set(spark):
    from excel_to_db_spark.queries.curation3 import graph_jaccard_neighbors
    from excel_to_db_spark.queries.graphlp import (
        graph_link_prediction_panel, graph_lp_holdout_eval)

    for fn in (graph_jaccard_neighbors, graph_link_prediction_panel,
               graph_lp_holdout_eval):
        plan = plan_text(fn(spark, SF_DIR))
        assert "Scan parquet" not in plan, \
            f"{fn.__name__}: every subtree must read the ONE " \
            "checkpointed edge projection (r11 re-scanned lineitem 6x)"
        # the only nested-loop allowed is the holdout's deliberate
        # 1-row scalar cross join — never an Inner pair join
        import re

        assert not re.search(r"BroadcastNestedLoopJoin .*Inner", plan)
        assert plan.count("Scan ExistingRDD") >= 4


def test_lpa_rounds_broadcast_the_label_side(spark, monkeypatch):
    _no_checkpoint(monkeypatch)
    from excel_to_db_spark.queries.graphcomm import graph_label_propagation

    plan = plan_text(graph_label_propagation(spark, SF_DIR))
    assert "SortMergeJoin" not in plan, \
        "each LPA round must broadcast the node-sized label frame"


def test_pagerank_scans_fact_once_at_runtime(spark, registry):
    df = registry["graph_pagerank3"].fn(spark, SF_DIR)
    df.collect()  # finalize the adaptive plan
    plan = plan_text(df)
    # the three unrolled iterations inline the edge subtree statically,
    # but AQE must collapse them: the edge shuffle executes once and the
    # later iterations read it back as ReusedExchange.
    assert plan.count("ReusedExchange") >= 2, \
        "iterations 2 and 3 must reuse the materialized edge shuffle"
    assert "BroadcastHashJoin" in plan, \
        "the |nations|-row rank vector must broadcast into each iteration"
