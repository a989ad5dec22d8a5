"""Semantic guards for the scale-estimation batch (estimation.py): the
oracle gate proves Spark == DuckDB; these prove the operators mean what
they claim — the KMV merge law holds exactly, the salted join is
row-identical to the plain join, BH q-values satisfy the step-up
procedure's algebraic invariants, t-closeness agrees with a direct
pandas recompute, and k-core peeling is monotone from a verified
round-0 state."""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F

from conftest import h32


def test_kmv_merge_law_exact(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import sketch_kmv_distinct
    rows = {r.method: r for r in
            sketch_kmv_distinct(spark, sf_dir).collect()}
    assert set(rows) == {"direct", "merged"}
    d, m = rows["direct"], rows["merged"]
    # The merge law: union of per-shard k-min sets re-trimmed to k
    # equals the global k-min set — kth hash and estimate identical.
    assert d.kth_hash == m.kth_hash
    assert d.est_ndv == m.est_ndv
    assert d.k == m.k == 64
    # Estimator sanity: within 5 sigma of theory (RMSE ~ 1/sqrt(k-2)).
    sigma_pct = 100.0 / math.sqrt(64 - 2)
    assert abs(d.err_pct) < 5 * sigma_pct
    assert d.exact_ndv > 0


def test_salted_join_equals_plain_join(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import join_skew_salted
    got = {r.s_nationkey: (r.n_lines, r.revenue)
           for r in join_skew_salted(spark, sf_dir).collect()}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    plain = (li.join(s, li.l_suppkey == s.s_suppkey)
             .groupBy("s_nationkey")
             .agg(F.count("*").alias("n_lines"),
                  F.round(F.sum(F.round(
                      F.col("l_extendedprice")
                      * (1 - F.col("l_discount")) * 100)
                      .cast("bigint")) / 100.0, 2).alias("revenue")))
    want = {r.s_nationkey: (r.n_lines, r.revenue)
            for r in plain.collect()}
    assert got == want
    assert sum(v[0] for v in got.values()) == li.count()


def test_fdr_bh_stepup_invariants(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import stats_fdr_bh
    rows = sorted(stats_fdr_bh(spark, sf_dir).collect(),
                  key=lambda r: r.bh_rank)
    m = len(rows)
    assert [r.bh_rank for r in rows] == list(range(1, m + 1))
    for r in rows:
        assert r.chi2 >= 0
        assert 0.0 <= r.p_value <= 1.0
        # Adjusted q never undercuts the raw p (m/j >= 1, p sorted).
        assert r.q_value >= r.p_value - 1e-9
        assert r.reject == (r.q_value <= 0.05)
        assert r.n_returned + r.n_other > 0
    # q is non-decreasing in rank (running suffix-min of an expression
    # that BH guarantees is floored by earlier values).
    for a, b in zip(rows, rows[1:]):
        assert a.q_value <= b.q_value + 1e-12
    # p is sorted ascending by construction of the rank.
    for a, b in zip(rows, rows[1:]):
        assert a.p_value <= b.p_value + 1e-12


def test_t_closeness_matches_pandas_recompute(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import privacy_t_closeness
    got = {(r.c_mktsegment, r.c_nationkey): (r.n_orders, r.t_close)
           for r in privacy_t_closeness(spark, sf_dir).collect()}

    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_custkey", "o_orderpriority"])
    c = pd.read_parquet(f"{sf_dir}/customer.parquet",
                        columns=["c_custkey", "c_mktsegment", "c_nationkey"])
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    levels = sorted(j["o_orderpriority"].unique())
    n_tot = len(j)
    glob_cum = (j["o_orderpriority"].value_counts()
                .reindex(levels, fill_value=0).cumsum())
    want = {}
    for (seg, nat), g in j.groupby(["c_mktsegment", "c_nationkey"]):
        n_g = len(g)
        cum = (g["o_orderpriority"].value_counts()
               .reindex(levels, fill_value=0).cumsum())
        num = sum(abs(int(cum[lv]) * n_tot - int(glob_cum[lv]) * n_g)
                  for lv in levels)
        want[(seg, int(nat))] = (
            n_g, round(num / (n_g * n_tot * (len(levels) - 1)), 6))
    assert got == want
    for n_orders, t in got.values():
        assert 0.0 <= t <= 1.0


def test_kcore_monotone_from_verified_round0(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import graph_kcore
    rows = sorted(graph_kcore(spark, sf_dir).collect(),
                  key=lambda r: r.peel_round)
    assert [r.peel_round for r in rows] == [0, 1, 2, 3, 4]
    # Round 0 matches an independent edge-set computation.
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    e = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")))
         .select(F.col("a.l_partkey").alias("u"),
                 F.col("b.l_partkey").alias("v")).distinct())
    n_edges = e.count()
    n_nodes = (e.select(F.col("u").alias("n"))
               .union(e.select("v")).distinct().count())
    r0 = rows[0]
    assert (r0.n_nodes, r0.n_edges) == (n_nodes, n_edges)
    # k = ceil(mean degree), derived in-query.
    assert r0.k == (2 * n_edges + n_nodes - 1) // n_nodes
    # Peeling only removes: counts are monotone non-increasing, and a
    # fixpoint (equal consecutive rounds) stays fixed.
    for p, q in zip(rows, rows[1:]):
        assert q.n_nodes <= p.n_nodes and q.n_edges <= p.n_edges
        assert q.k == r0.k
    # A fixpoint stays fixed: once two consecutive rounds agree, every
    # later round must repeat the same counts.
    fixed_at = None
    for p, q in zip(rows[1:], rows[2:]):
        if fixed_at is not None:
            assert (q.n_nodes, q.n_edges) == fixed_at
        elif (p.n_nodes, p.n_edges) == (q.n_nodes, q.n_edges):
            fixed_at = (p.n_nodes, p.n_edges)
    # Survivors of round 1 each had degree >= k in the round-0 graph.
    deg0 = (e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .groupBy("n").count())
    n1_expected = deg0.filter(F.col("count") >= r0.k).count()
    assert rows[1].n_nodes == n1_expected


def test_ams_f2_estimators_and_exact_moment(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import sketch_ams_f2
    rows = sorted(sketch_ams_f2(spark, sf_dir).collect(),
                  key=lambda r: r.est_id)
    assert [r.est_id for r in rows] == list(range(16))
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_partkey"])
    f2 = int((li["l_partkey"].value_counts() ** 2).sum())
    mean_raw = sum(r.est_f2 for r in rows) / 16.0
    for r in rows:
        assert r.est_f2 == r.signed_sum * r.signed_sum
        assert r.exact_f2 == f2
        assert r.mean_est_f2 == round(mean_raw, 2)
    # 16-estimator mean: sigma ~ sqrt(2/16)*F2 = 35%; allow 5 sigma.
    assert abs(rows[0].err_pct) < 175.0


def test_permutation_test_pvalue_arithmetic(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import stats_permutation_test
    r = stats_permutation_test(spark, sf_dir).collect()[0]
    assert r.n_perms == 99
    assert 0 <= r.n_exceed <= 99
    assert r.p_value == round((1 + r.n_exceed) / 100.0, 6)
    assert 0.0 < r.p_value <= 1.0
    # Observed statistic matches a direct recompute.
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_custkey", "o_totalprice"])
    c = pd.read_parquet(f"{sf_dir}/customer.parquet",
                        columns=["c_custkey", "c_mktsegment"])
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j = j[j["c_mktsegment"].isin(["BUILDING", "MACHINERY"])]
    cents = (j["o_totalprice"] * 100).round().astype("int64")
    a = cents[j["c_mktsegment"] == "BUILDING"]
    b = cents[j["c_mktsegment"] == "MACHINERY"]
    assert (r.n_a, r.n_b) == (len(a), len(b))
    want = round((a.sum() / len(a) - b.sum() / len(b)) / 100.0, 4)
    assert r.mean_diff == want


def test_diff_in_diff_cell_algebra(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import stats_diff_in_diff
    r = stats_diff_in_diff(spark, sf_dir).collect()[0]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_custkey", "o_orderdate",
                                 "o_totalprice"])
    c = pd.read_parquet(f"{sf_dir}/customer.parquet",
                        columns=["c_custkey", "c_mktsegment"])
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j["treated"] = (j["c_mktsegment"] == "BUILDING").astype(int)
    j["post"] = (pd.to_datetime(j["o_orderdate"])
                 >= pd.Timestamp("1995-06-17")).astype(int)
    j["v"] = (j["o_totalprice"] * 100).round().astype("int64")

    def mean4(tr, po):
        g = j[(j.treated == tr) & (j.post == po)]
        return round(g["v"].sum() / (100.0 * len(g)), 4)

    assert r.m_treat_pre == mean4(1, 0)
    assert r.m_treat_post == mean4(1, 1)
    assert r.m_ctrl_pre == mean4(0, 0)
    assert r.m_ctrl_post == mean4(0, 1)
    assert r.n_orders == len(j)
    assert r.did_estimate == round(
        (r.m_treat_post - r.m_treat_pre)
        - (r.m_ctrl_post - r.m_ctrl_pre), 4)


def test_neyman_allocation_budget_and_optimality(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import (
        sample_neyman_allocation)
    rows = sample_neyman_allocation(spark, sf_dir).collect()
    assert len(rows) == 5
    assert sum(r.alloc for r in rows) == 1000
    # Largest-remainder: every allocation is within 1 of the exact
    # real-valued Neyman quota n * (N_h s_h) / sum(N_h s_h).
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_custkey", "o_totalprice"])
    c = pd.read_parquet(f"{sf_dir}/customer.parquet",
                        columns=["c_custkey", "c_mktsegment"])
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j["v"] = (j["o_totalprice"] * 100).round().astype("int64")
    w = {seg: len(g) * g["v"].std(ddof=1)
         for seg, g in j.groupby("c_mktsegment")}
    wtot = sum(w.values())
    for r in rows:
        assert r.n_h == len(j[j["c_mktsegment"] == r.stratum])
        assert r.s_h > 0
        quota = 1000 * w[r.stratum] / wtot
        assert abs(r.alloc - quota) <= 1.0


def test_psi_terms_nonnegative_and_sum(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import drift_psi
    rows = sorted(drift_psi(spark, sf_dir).collect(),
                  key=lambda r: r.bucket)
    assert [r.bucket for r in rows] == list(range(10))
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderdate", "o_totalprice"])
    assert sum(r.n_pre + r.n_post for r in rows) == len(o)
    total_nano = sum(r.term_nano for r in rows)
    for r in rows:
        # (p - q) ln(p/q) >= 0 always — a negative term is a math bug.
        assert r.term_nano >= 0
        assert r.psi == round(total_nano / 1e9, 6)
        assert r.n_pre >= 0 and r.n_post >= 0


def test_unimax_waterfill_invariants(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import mixture_unimax_budget
    rows = mixture_unimax_budget(spark, sf_dir).collect()
    total = sum(r.s_tok for r in rows)
    budget = (3 * total) // 5
    assert sum(r.alloc for r in rows) == budget
    uncapped = []
    for r in rows:
        assert r.capacity == 2 * r.s_tok
        assert 0 <= r.alloc <= r.capacity
        assert r.epochs <= 2.0
        if r.capped:
            assert r.alloc == r.capacity
        else:
            uncapped.append(r.alloc)
    # Fairness: uncapped sources differ by at most one token.
    if uncapped:
        assert max(uncapped) - min(uncapped) <= 1


def test_unimax_caps_tiny_source(spark, tmp_path):
    """A constructed skew: the tiny source saturates its 2-epoch cap
    and the survivors split the rest evenly."""
    from excel_to_db_spark.queries.estimation import mixture_unimax_budget
    def doc(i, src, n_tok):
        return (i, " ".join(f"w{j}" for j in range(n_tok)), "en", src, 0)
    docs = [doc(0, "tiny", 10), doc(1, "mid", 1000), doc(2, "big", 2000)]
    df = spark.createDataFrame(
        docs,
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {r.source: r for r in
            mixture_unimax_budget(spark, str(tmp_path)).collect()}
    # total 3010, B = 1806; fair share 602 > cap(tiny) = 20 -> capped;
    # remaining 1786 split 893/893.
    assert rows["tiny"].capped and rows["tiny"].alloc == 20
    assert not rows["mid"].capped and rows["mid"].alloc == 893
    assert not rows["big"].capped and rows["big"].alloc == 893


def test_group_order_all_matches_explicit(spark, sf_dir):
    from excel_to_db_spark.queries.sql_features import sql_group_order_all
    got = [tuple(r) for r in sql_group_order_all(spark, sf_dir).collect()]
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    want_df = (o.groupBy("o_orderstatus", "o_orderpriority")
               .agg(F.count("*").alias("n"),
                    (F.round(F.sum(F.round(F.col("o_totalprice") * 100)
                                   .cast("bigint")) / 100.0, 2))
                    .cast("double").alias("sum_price")))
    want = sorted(tuple(r) for r in want_df.collect())
    assert got == want  # ORDER BY ALL == sorted by full select list


def test_stream_psi_equals_batch(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import (drift_psi,
                                                      stream_drift_psi)
    batch = sorted(map(tuple, drift_psi(spark, sf_dir).collect()))
    stream = sorted(map(tuple, stream_drift_psi(spark, sf_dir).collect()))
    assert batch == stream


def test_zipf_fit_matches_numpy(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import text_zipf_fit
    r = text_zipf_fit(spark, sf_dir).collect()[0]
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["text"])
    freq = pd.Series(
        " ".join(docs["text"]).split(" ")).value_counts()
    # pandas value_counts ties are unordered; re-sort (freq desc, tok)
    fr = sorted(zip(freq.index, freq.values),
                key=lambda t: (-t[1], t[0]))[:1000]
    assert r.n_points == len(fr)
    assert r.top_token == fr[0][0] and r.top_freq == fr[0][1]
    import numpy as np
    x = np.array([round(math.log(i + 1) * 1e6) for i in range(len(fr))],
                 dtype=object)
    y = np.array([round(math.log(int(f)) * 1e6) for _, f in fr],
                 dtype=object)
    n = len(fr)
    sx, sy = sum(x), sum(y)
    sxx = sum(a * a for a in x)
    sxy = sum(a * b for a, b in zip(x, y))
    syy = sum(b * b for b in y)
    cov_n = float(n * sxy - sx * sy)
    varx_n = float(n * sxx - sx * sx)
    vary_n = float(n * syy - sy * sy)
    assert r.zipf_slope == round(cov_n / varx_n, 4)
    assert r.r2 == round((cov_n / varx_n) * (cov_n / vary_n), 4)
    assert r.zipf_slope < 0
    assert 0.0 <= r.r2 <= 1.0


def test_schema_evolution_census(spark, sf_dir):
    from excel_to_db_spark.queries.storage import parquet_schema_evolution
    rows = {r.epoch: r for r in
            parquet_schema_evolution(spark, sf_dir).collect()}
    assert set(rows) == {1, 2}
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderkey", "o_totalprice"])
    cents = (o["o_totalprice"] * 100).round().astype("int64")
    even = o["o_orderkey"] % 2 == 0
    # Epoch 1 predates the column: every row NULL. Epoch 2: none.
    assert rows[1].n_null_priority == rows[1].n_rows == int(even.sum())
    assert rows[2].n_null_priority == 0
    assert rows[2].n_rows == int((~even).sum())
    assert rows[1].sum_cents == int(cents[even].sum())
    assert rows[2].sum_cents == int(cents[~even].sum())


def test_sssp_matches_dijkstra(spark, sf_dir):
    import heapq
    from excel_to_db_spark.queries.estimation import graph_sssp_bellman
    got = {r.node: r.dist for r in
           graph_sssp_bellman(spark, sf_dir).collect()}

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_suppkey"])
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderkey", "o_custkey"])
    c = pd.read_parquet(f"{sf_dir}/customer.parquet",
                        columns=["c_custkey", "c_nationkey"])
    s = pd.read_parquet(f"{sf_dir}/supplier.parquet",
                        columns=["s_suppkey", "s_nationkey"])
    j = (li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
         .merge(c, left_on="o_custkey", right_on="c_custkey")
         .merge(s, left_on="l_suppkey", right_on="s_suppkey"))
    j = j[j["c_nationkey"] != j["s_nationkey"]]
    cnt = {}
    for u, v in zip(j["c_nationkey"], j["s_nationkey"]):
        a, b = (int(u), int(v)) if u < v else (int(v), int(u))
        cnt[(a, b)] = cnt.get((a, b), 0) + 1
    tc = sum(cnt.values())
    adj = {}
    for (a, b), n in cnt.items():
        w = 1 + tc // n
        adj.setdefault(a, []).append((b, w))
        adj.setdefault(b, []).append((a, w))
    dist = {0: 0}
    pq = [(0, 0)]
    while pq:
        dd, u = heapq.heappop(pq)
        if dd > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = dd + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    # 4 Bellman-Ford rounds must have converged on this dense graph:
    # the relaxed labels equal true shortest distances.
    assert got == dist


def test_soft_dedup_weights_conserve_content(spark, sf_dir):
    import hashlib
    from excel_to_db_spark.queries.estimation import dedup_soft_weights
    rows = {r.source: r for r in
            dedup_soft_weights(spark, sf_dir).collect()}
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "source", "text"])
    fp = docs["text"].map(lambda t: hashlib.md5(
        " ".join(sorted(set(t.split(" ")))).encode()).hexdigest())
    sz = fp.map(fp.value_counts())
    w = (1e6 / sz).round().astype("int64")
    ntok = docs["text"].map(lambda t: len(t.split(" ")))
    for src, g in docs.groupby("source"):
        idx = g.index
        r = rows[src]
        assert r.n_docs == len(idx)
        assert r.n_in_clusters == int((sz[idx] > 1).sum())
        assert r.eff_docs_micro == int(w[idx].sum())
        assert r.n_tokens == int(ntok[idx].sum())
        assert r.eff_tokens_micro == int((ntok[idx] * w[idx]).sum())
        assert r.eff_docs_micro <= r.n_docs * 1000000
    # Global conservation: summed weight == number of DISTINCT contents
    # (each cluster's members sum to exactly 1, bar micro rounding).
    total_eff = sum(r.eff_docs_micro for r in rows.values())
    n_distinct = fp.nunique()
    assert abs(total_eff - n_distinct * 1000000) <= len(docs)


def test_union_by_name_no_positional_mixup(spark, sf_dir):
    from excel_to_db_spark.queries.sql_features import union_by_name_missing
    rows = {r.o_orderstatus: r for r in
            union_by_name_missing(spark, sf_dir).collect()}
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderkey", "o_orderstatus"])
    even = o["o_orderkey"] % 2 == 0
    for st, r in rows.items():
        n_even = int((even & (o["o_orderstatus"] == st)).sum())
        n_odd = int((~even & (o["o_orderstatus"] == st)).sum())
        assert r.n == n_even + n_odd
        # Columns kept their OWN values: priority only from odd arm,
        # custkey only from even arm.
        assert r.n_with_priority == n_odd
        assert r.n_with_custkey == n_even


def test_dp_median_mechanism_contract(spark, sf_dir):
    import math
    from excel_to_db_spark.queries.estimation import privacy_dp_median
    rows = sorted(privacy_dp_median(spark, sf_dir).collect(),
                  key=lambda r: r.qty)
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_quantity"])
    q = li["l_quantity"].astype(int)
    counts = q.value_counts().sort_index()
    n = len(q)
    assert [r.qty for r in rows] == list(counts.index)
    assert sum(r.n_rows for r in rows) == n
    # Exact utility and replayable Gumbel noise per candidate.
    cum = 0
    best = None
    for r in rows:
        c = int(counts[r.qty])
        less, greater = cum, n - cum - c
        cum += c
        assert r.utility == -abs(less - greater)
        h = h32(f"dpmed:{r.qty}")
        u01 = (h + 0.5) / 2**32
        want = round((r.utility / 2.0 - math.log(-math.log(u01))) * 1e9)
        assert r.score_nano == want
        if best is None or (r.score_nano, -r.qty) > best[0]:
            best = ((r.score_nano, -r.qty), r.qty)
    # Exactly one choice, and it is the nano-score argmax.
    choices = [r.qty for r in rows if r.is_choice]
    assert choices == [best[1]]
    # True median = smallest value whose cumulative count covers n/2.
    run = 0
    for qty, c in counts.items():
        run += int(c)
        if 2 * run >= n:
            assert rows[0].true_median == int(qty)
            break


def test_ipw_ate_matches_pandas_recompute(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import stats_ipw_ate
    r = stats_ipw_ate(spark, sf_dir).collect()[0]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_custkey", "o_totalprice"])
    c = pd.read_parquet(f"{sf_dir}/customer.parquet",
                        columns=["c_custkey", "c_nationkey",
                                 "c_mktsegment"])
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j["treat"] = (j["c_mktsegment"] == "BUILDING").astype(int)
    j["v"] = (j["o_totalprice"] * 100).round().astype("int64")
    g = j.groupby("c_nationkey").agg(n_s=("treat", "size"),
                                     n_t=("treat", "sum"))
    j = j.join(g, on="c_nationkey")
    j = j[(j["n_t"] > 0) & (j["n_s"] - j["n_t"] > 0)]
    w = j.apply(lambda row: (row.n_s * 10**6) // row.n_t if row.treat
                else (row.n_s * 10**6) // (row.n_s - row.n_t), axis=1)
    t = j["treat"] == 1
    m1 = round(float((j.loc[t, "v"] * w[t]).sum()) / float(w[t].sum())
               / 100.0, 4)
    m0 = round(float((j.loc[~t, "v"] * w[~t]).sum()) / float(w[~t].sum())
               / 100.0, 4)
    assert (r.n, r.n_treat) == (len(j), int(j["treat"].sum()))
    assert r.mean_treated_ipw == m1
    assert r.mean_control_ipw == m0
    assert r.ate_ipw == round(m1 - m0, 4)


def test_aipw_matches_pandas_recompute(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import stats_aipw_ate
    r = stats_aipw_ate(spark, sf_dir).collect()[0]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_custkey", "o_totalprice"])
    c = pd.read_parquet(f"{sf_dir}/customer.parquet",
                        columns=["c_custkey", "c_nationkey",
                                 "c_mktsegment"])
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j["treat"] = (j["c_mktsegment"] == "BUILDING").astype(int)
    j["v"] = (j["o_totalprice"] * 100).round().astype("int64")
    reg_sum = aug1 = aug0 = n = 0
    for _, g in j.groupby("c_nationkey"):
        n_s, n_t = len(g), int(g["treat"].sum())
        if n_t == 0 or n_s - n_t == 0:
            continue
        m1 = int(g.loc[g.treat == 1, "v"].sum()) // n_t
        m0 = int(g.loc[g.treat == 0, "v"].sum()) // (n_s - n_t)
        w1 = (n_s * 10**6) // n_t
        w0 = (n_s * 10**6) // (n_s - n_t)
        n += n_s
        reg_sum += (m1 - m0) * n_s
        aug1 += int(((g.loc[g.treat == 1, "v"] - m1) * w1).sum())
        aug0 += int(((g.loc[g.treat == 0, "v"] - m0) * w0).sum())
    assert r.n == n
    assert r.ate_outcome == round(reg_sum / n / 100.0, 4)
    assert r.ate_aipw == round(
        (reg_sum + aug1 / 1e6 - aug0 / 1e6) / n / 100.0, 4)
    # Both estimators agree on sign and rough magnitude (same design).
    assert abs(r.ate_aipw - r.ate_outcome) < max(
        1.0, abs(r.ate_outcome))


def test_mann_kendall_matches_recompute(spark, sf_dir):
    import math
    from excel_to_db_spark.queries.stats_tests import stats_mann_kendall
    r = stats_mann_kendall(spark, sf_dir).collect()[0]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderdate"])
    daily = o.groupby("o_orderdate").size().sort_index().values
    n = len(daily)
    s = 0
    for i in range(n):
        for jj in range(i + 1, n):
            s += int(daily[jj] > daily[i]) - int(daily[jj] < daily[i])
    tie_term = 0
    vals, cnts = pd.Series(daily).value_counts().index, \
        pd.Series(daily).value_counts().values
    for t in cnts:
        if t > 1:
            tie_term += int(t) * (t - 1) * (2 * t + 5)
    var = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
    z = round((s - (1 if s > 0 else -1 if s < 0 else 0))
              / math.sqrt(var), 5)
    assert (r.n, r.s_stat) == (n, s)
    assert r.z_stat == z


def test_delta_method_ratio_recompute(spark, sf_dir):
    import math
    from excel_to_db_spark.queries.estimation import (
        stats_delta_method_ratio)
    rows = {r.arm: r for r in
            stats_delta_method_ratio(spark, sf_dir).collect()}
    assert set(rows) == {"treat", "control"}
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_custkey", "o_totalprice"])
    c = pd.read_parquet(f"{sf_dir}/customer.parquet",
                        columns=["c_custkey", "c_mktsegment"])
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j["arm"] = (j["c_mktsegment"] == "BUILDING").map(
        {True: "treat", False: "control"})
    j["cents"] = (j["o_totalprice"] * 100).round().astype("int64")
    for arm, g in j.groupby("arm"):
        u = g.groupby("o_custkey").agg(x=("cents", "sum"),
                                       y=("cents", "size"))
        n = len(u)
        sx, sy = int(u.x.sum()), int(u.y.sum())
        rr = sx / sy
        varnum = (float((u.x ** 2).sum()) - sx * sx / n
                  - 2.0 * rr * (float((u.x * u.y).sum()) - sx * sy / n)
                  + rr * rr * (float((u.y ** 2).sum()) - sy * sy / n))
        se = (math.sqrt(max(varnum / (n - 1.0), 0.0))
              / (sy / n) / math.sqrt(n) / 100.0)
        got = rows[arm]
        assert (got.n, got.n_orders) == (n, sy)
        assert got.ratio == round(rr / 100.0, 4)
        assert abs(got.se_ratio - round(se, 6)) <= 1e-6
        assert got.se_ratio > 0


def test_seasonality_fold_recompute(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import (
        ts_seasonality_strength)
    rows = sorted(ts_seasonality_strength(spark, sf_dir).collect(),
                  key=lambda r: r.period)
    assert [r.period for r in rows] == [5, 6, 7, 8, 9]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderdate"])
    daily = o.groupby("o_orderdate").size()
    di = (pd.to_datetime(daily.index)
          - pd.Timestamp("1992-01-01")).days.astype(int)
    c = daily.values.astype(int)
    n, s, ss = len(c), int(c.sum()), int((c.astype(object) ** 2).sum())
    grand = s * s // n
    want = {}
    for p in (5, 6, 7, 8, 9):
        b = 0
        for ph in range(p):
            m = c[di % p == ph]
            if len(m):
                sp = int(m.sum())
                b += sp * sp // len(m)
        want[p] = round((b - grand) / (ss - grand), 6)
    for r in rows:
        assert r.strength == want[r.period]
        assert -1.0 <= r.strength <= 1.0
    dominant = [r.period for r in rows if r.is_dominant]
    assert dominant == [max(want, key=lambda p: (want[p], -p))]


def _suppress_replay(cells, k=3, rounds=3):
    """Python mirror of privacy_cell_suppression's synchronous rounds."""
    state = {key: [n, n < k, 0 if n < k else None]
             for key, n in cells.items()}
    for r in range(1, rounds + 1):
        marks = set()
        for axis in (0, 1):
            groups = {}
            for key in state:
                groups.setdefault(key[axis], []).append(key)
            for _, keys in groups.items():
                supped = [key for key in keys if state[key][1]]
                if len(supped) != 1:
                    continue
                free = [key for key in keys if not state[key][1]]
                if not free:
                    continue
                free.sort(key=lambda key: (state[key][0], key[1 - axis]))
                marks.add(free[0])
        for key in marks:
            state[key][1] = True
            state[key][2] = r
    return state


def test_cell_suppression_replay_real_data(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import (
        privacy_cell_suppression)
    got = {(r.c_nationkey, r.c_mktsegment): r for r in
           privacy_cell_suppression(spark, sf_dir).collect()}
    c = pd.read_parquet(f"{sf_dir}/customer.parquet",
                        columns=["c_nationkey", "c_mktsegment"])
    cells = {(int(n), s): int(v) for (n, s), v in
             c.groupby(["c_nationkey", "c_mktsegment"]).size().items()}
    want = _suppress_replay(cells)
    assert set(got) == set(cells)
    n_sup = 0
    for key, (n, sup, rsup) in want.items():
        r = got[key]
        assert r.n_customers == n
        assert r.suppressed == sup
        assert r.round_suppressed == rsup
        n_sup += bool(sup)
    # The fixture actually exercises the operator at this SF.
    assert n_sup > 0


def test_cell_suppression_complementary_fires(spark, tmp_path):
    from excel_to_db_spark.queries.estimation import (
        privacy_cell_suppression)
    rows = []
    grid = {(0, "A"): 1, (0, "B"): 4, (0, "C"): 6,
            (1, "A"): 5, (1, "B"): 7, (1, "C"): 8,
            (2, "A"): 9, (2, "B"): 10, (2, "C"): 11}
    cid = 0
    for (nat, seg), n in grid.items():
        for _ in range(n):
            rows.append((cid, nat, seg))
            cid += 1
    df = spark.createDataFrame(
        rows, "c_custkey bigint, c_nationkey int, c_mktsegment string")
    df.write.mode("overwrite").parquet(
        str(tmp_path / "customer.parquet"))
    got = {(r.c_nationkey, r.c_mktsegment): r for r in
           privacy_cell_suppression(spark, str(tmp_path)).collect()}
    # (0,'A') primary; row 0 and column A each then hold exactly one
    # suppressed cell -> their smallest free cells go in round 1.
    assert got[(0, "A")].suppressed and got[(0, "A")].round_suppressed == 0
    assert got[(0, "B")].suppressed and got[(0, "B")].round_suppressed == 1
    assert got[(1, "A")].suppressed and got[(1, "A")].round_suppressed == 1
    # Everything matches the python mirror exactly.
    want = _suppress_replay(grid)
    for key, (n, sup, rsup) in want.items():
        assert (got[key].suppressed, got[key].round_suppressed) \
            == (sup, rsup)
