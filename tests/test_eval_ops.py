"""Semantic guards for the retrieval-eval/diversity/gains batch: MRR's
sort-free rank formula matches a brute-force numpy replay, MMR's greedy
path is reproduced exactly by an independent reference implementation,
and the gains curve satisfies its accounting identities."""

from __future__ import annotations

import numpy as np
import pandas as pd

from conftest import h32


def _milli_vectors(sf_dir):
    df = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    v = np.floor(np.stack(df["embedding"].to_numpy()).astype("float64")
                 * 1000 + 0.5).astype("int64")
    return df["vec_id"].to_numpy(), df["label"].to_numpy(), v


def test_mrr_matches_bruteforce_replay(spark, sf_dir):
    from excel_to_db_spark.queries.similarity2 import similarity_mrr_eval
    rows = {r.q_id: r for r in similarity_mrr_eval(spark, sf_dir).collect()}
    ids, labels, v = _milli_vectors(sf_dir)
    assert set(rows) == set(ids[ids < 10])
    rrs = []
    for qi in sorted(rows):
        q_idx = np.where(ids == qi)[0][0]
        mask = ids != qi
        d2 = ((v[mask] - v[q_idx]) ** 2).sum(axis=1)
        order = np.lexsort((ids[mask], d2))
        rel = labels[mask][order] == labels[q_idx]
        hit = np.nonzero(rel)[0]
        want_rank = int(hit[0]) + 1 if len(hit) else 0
        assert rows[qi].first_rel_rank == want_rank
        want_rr = (round(1e6 / want_rank) if 0 < want_rank <= 10 else 0)
        assert rows[qi].rr_micro == want_rr
        rrs.append(want_rr)
    assert rows[0].mrr_at_10 == round(sum(rrs) / (len(rrs) * 1e6), 6)


def test_mmr_greedy_replay(spark, sf_dir):
    from excel_to_db_spark.queries.similarity2 import (
        similarity_mmr_diversify)
    got = sorted(similarity_mmr_diversify(spark, sf_dir).collect(),
                 key=lambda r: r.pick_order)
    assert [r.pick_order for r in got] == [1, 2, 3, 4, 5]
    ids, labels, v = _milli_vectors(sf_dir)
    q_idx = np.where(ids == 0)[0][0]
    mask = ids != 0
    cid, cv = ids[mask], v[mask]
    d2q = ((cv - v[q_idx]) ** 2).sum(axis=1)
    pool = np.lexsort((cid, d2q))[:20]
    cid, cv, d2q = cid[pool], cv[pool], d2q[pool]

    sel = [int(np.lexsort((cid, d2q))[0])]
    mins = [None]
    for _ in range(4):
        rem = [i for i in range(len(cid)) if i not in sel]
        md = {i: min(int(((cv[i] - cv[s]) ** 2).sum()) for s in sel)
              for i in rem}
        pick = max(rem, key=lambda i: (md[i] - int(d2q[i]), -int(cid[i])))
        sel.append(pick)
        mins.append(md[pick])
    for r, (i, m) in zip(got, zip(sel, mins)):
        assert r.vec_id == int(cid[i])
        assert r.d2q == int(d2q[i])
        assert (r.min_d2_sel is None) == (m is None)
        if m is not None:
            assert r.min_d2_sel == m
    # Diversity: the 5 picks are distinct vectors.
    assert len({r.vec_id for r in got}) == 5


def test_quality_gains_accounting(spark, sf_dir):
    from excel_to_db_spark.queries.quality import eval_quality_gains
    rows = sorted(eval_quality_gains(spark, sf_dir).collect(),
                  key=lambda r: r.decile)
    assert [r.decile for r in rows] == list(range(10))
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    assert sum(r.n_docs for r in rows) == len(docs)
    # Deciles are within 1 of each other (exact integer split).
    sizes = [r.n_docs for r in rows]
    assert max(sizes) - min(sizes) <= 1
    # Cumulative accounting closes: last decile captures everything.
    tot_dups = sum(r.n_dups for r in rows)
    assert rows[-1].cum_dups == tot_dups
    if tot_dups:
        assert rows[-1].capture_pct == 100.0
        assert rows[-1].lift == 1.0
    cum = 0
    for r in rows:
        cum += r.n_dups
        assert r.cum_dups == cum
        assert 0 <= r.n_dups <= r.n_docs


def test_bm25_matches_pandas_recompute(spark, sf_dir):
    import math
    from excel_to_db_spark.queries.pipeline import text_bm25_search
    got = sorted(text_bm25_search(spark, sf_dir).collect(),
                 key=lambda r: r.rank)
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text"])
    terms = ("spark", "vector", "hash")
    k1, b = 1.2, 0.75
    toks = {int(r.doc_id): r.text.split(" ") for _, r in docs.iterrows()}
    dl = {d: len(ts) for d, ts in toks.items()}
    n_docs, sum_dl = len(dl), sum(dl.values())
    tf = {(d, t): ts.count(t) for d, ts in toks.items()
          for t in terms if t in ts}
    df = {t: sum(1 for (d2, t2) in tf if t2 == t) for t in terms}
    score = {}
    for (d, t), f in tf.items():
        idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
        den = f + k1 * (1.0 - b + b * dl[d] * n_docs / sum_dl)
        score[d] = score.get(d, 0) + round(
            idf * (f * (k1 + 1.0)) / den * 1e6)
    want = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r.doc_id, r.score_micro) for r in got] == \
        [(d, s) for d, s in want]
    assert [r.rank for r in got] == list(range(1, len(got) + 1))


def test_anova_twoway_matches_integer_recompute(spark, sf_dir):
    from excel_to_db_spark.queries.stats_tests import stats_anova_twoway
    r = stats_anova_twoway(spark, sf_dir).collect()[0]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderdate", "o_orderstatus",
                                 "o_totalprice"])
    dow = ((pd.to_datetime(o["o_orderdate"])
            - pd.Timestamp("1995-01-02")).dt.days % 7).astype(int)
    x = o["o_totalprice"].round().astype("int64")
    cells = {}
    for d, s, v in zip(dow, o["o_orderstatus"], x):
        n, sm, q = cells.get((d, s), (0, 0, 0))
        cells[(d, s)] = (n + 1, sm + int(v), q + int(v) ** 2)

    def roll(keyfn):
        agg = {}
        for k, (n, sm, _) in cells.items():
            kk = keyfn(k)
            a, b = agg.get(kk, (0, 0))
            agg[kk] = (a + n, b + sm)
        return sum(s * s // n for n, s in agg.values()), len(agg)

    a_int, k_dow = roll(lambda k: k[0])
    b_int, k_st = roll(lambda k: k[1])
    c_int = sum(s * s // n for n, s, _ in cells.values())
    nt = sum(n for n, _, _ in cells.values())
    st_sum = sum(s for _, s, _ in cells.values())
    q_tot = sum(q for _, _, q in cells.values())
    grand = st_sum * st_sum // nt
    m_cells = len(cells)
    mse = (q_tot - c_int) * 1.0 / (nt - m_cells)
    assert (r.n, r.k_dow, r.k_st, r.m_cells) == (nt, k_dow, k_st, m_cells)
    assert r.f_dow == round(((a_int - grand) * 1.0 / (k_dow - 1)) / mse, 5)
    assert r.f_status == round(((b_int - grand) * 1.0 / (k_st - 1))
                               / mse, 5)
    assert r.f_inter == round(
        ((c_int - a_int - b_int + grand) * 1.0
         / ((k_dow - 1) * (k_st - 1))) / mse, 5)


def test_hybrid_rrf_fuses_both_arms(spark, sf_dir):
    import math
    import numpy as np
    from excel_to_db_spark.queries.similarity2 import search_hybrid_rrf
    got = sorted(search_hybrid_rrf(spark, sf_dir).collect(),
                 key=lambda r: r.rank)

    # Lexical arm replay (same BM25 math as test_bm25, minus doc 0).
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text"])
    terms, k1, b = ("spark", "vector", "hash"), 1.2, 0.75
    toks = {int(r.doc_id): r.text.split(" ") for _, r in docs.iterrows()}
    dl = {d: len(t) for d, t in toks.items()}
    n_docs, sum_dl = len(dl), sum(dl.values())
    tf = {(d, t): ts.count(t) for d, ts in toks.items()
          for t in terms if t in ts}
    df = {t: sum(1 for (_, t2) in tf if t2 == t) for t in terms}
    score = {}
    for (d, t), f in tf.items():
        idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
        den = f + k1 * (1.0 - b + b * dl[d] * n_docs / sum_dl)
        score[d] = score.get(d, 0) + round(
            idf * (f * (k1 + 1.0)) / den * 1e6)
    score.pop(0, None)
    lex = {d: i + 1 for i, (d, _) in enumerate(
        sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:20])}

    # Vector arm replay.
    ids, _, v = _milli_vectors(sf_dir)
    qi = np.where(ids == 0)[0][0]
    mask = ids != 0
    d2 = ((v[mask] - v[qi]) ** 2).sum(axis=1)
    order = np.lexsort((ids[mask], d2))[:20]
    vec = {int(ids[mask][i]): r + 1 for r, i in enumerate(order)}

    fused = {}
    for d, rk in lex.items():
        fused[d] = fused.get(d, 0) + round(1e6 / (60 + rk))
    for d, rk in vec.items():
        fused[d] = fused.get(d, 0) + round(1e6 / (60 + rk))
    want = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r.doc_id, r.rrf_micro) for r in got] == want
    for r in got:
        assert (r.lex_rank is None) == (r.doc_id not in lex)
        assert (r.vec_rank is None) == (r.doc_id not in vec)
        if r.lex_rank is not None:
            assert r.lex_rank == lex[r.doc_id]
        if r.vec_rank is not None:
            assert r.vec_rank == vec[r.doc_id]


def test_perplexity_buckets_tercile_accounting(spark, sf_dir):
    from excel_to_db_spark.queries.pipeline import text_perplexity_buckets
    rows = text_perplexity_buckets(spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["text"])
    scored = int((docs["text"].str.split(" ").str.len() >= 2).sum())
    assert sum(r.n_docs for r in rows) == scored
    by_bucket = {}
    means = {}
    for r in rows:
        assert r.bucket in ("head", "middle", "tail")
        by_bucket[r.bucket] = by_bucket.get(r.bucket, 0) + r.n_docs
        means.setdefault(r.bucket, []).append(r.mean_logp_nano)
    # Global terciles: bucket sizes within 1 of each other.
    sizes = list(by_bucket.values())
    assert max(sizes) - min(sizes) <= 2
    # Ordering: head (most fluent) has the highest mean log-prob.
    assert max(means["tail"]) <= min(means["head"])


def test_negative_sampling_contract(spark, sf_dir):
    from excel_to_db_spark.queries.similarity2 import (
        sample_negatives_contrastive)
    rows = sample_negatives_contrastive(spark, sf_dir).collect()
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet",
                          columns=["vec_id", "label"])
    label = dict(zip(emb["vec_id"], emb["label"]))
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r)
        assert r.label == label[r.vec_id]
        assert r.label != label[r.q_id]      # negatives only
        assert r.vec_id != r.q_id
        assert r.h < 200_000_000
        want_h = h32(f"{r.q_id}:{r.vec_id}")
        assert r.h == want_h                  # replayable draw
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.neg_rank)
        assert [r.neg_rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        hs = [r.h for r in rs]
        assert hs == sorted(hs)


def test_binary_quant_recall_replay(spark, sf_dir):
    import numpy as np
    from excel_to_db_spark.queries.similarity2 import embedding_binary_quant
    r = embedding_binary_quant(spark, sf_dir).collect()[0]
    ids, _, v = _milli_vectors(sf_dir)
    assert r.n_vectors == len(ids)
    # integer-DIV (truncating, like Spark DIV / DuckDB //), NOT floor
    ctr = np.trunc(v.sum(axis=0) / len(ids)).astype("int64")
    bits = (v > ctr).astype("int64")
    qi = np.where(ids == 0)[0][0]
    ham = (bits != bits[qi]).sum(axis=1)
    mask = ids != 0
    border = np.lexsort((ids[mask], ham[mask]))[:10]
    btop = set(ids[mask][border].tolist())
    d2 = ((v[mask] - v[qi]) ** 2).sum(axis=1)
    eorder = np.lexsort((ids[mask], d2))[:10]
    etop = set(ids[mask][eorder].tolist())
    assert r.n_overlap == len(btop & etop)
    assert r.recall_at_10 == round(r.n_overlap / 10.0, 2)
    assert 0 <= r.n_overlap <= 10


def test_cusum_two_window_unroll(spark, sf_dir):
    from excel_to_db_spark.queries.estimation import ts_cusum_detection
    rows = sorted(ts_cusum_detection(spark, sf_dir).collect(),
                  key=lambda r: r.day)
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderdate"])
    daily = o.groupby("o_orderdate").size().sort_index()
    t, d = int(daily.sum()), len(daily)
    # Replay the SEQUENTIAL recursion and match the window unroll.
    s = 0
    want = []
    for c in daily.values:
        s = max(0, s + int(c) * d - t)
        want.append(s)
    assert [r.s_units for r in rows] == want
    for r, w in zip(rows, want):
        assert r.alarm == (w > 8 * t)
    assert len(rows) == d


def test_kcenter_greedy_replay(spark, sf_dir):
    import numpy as np
    from excel_to_db_spark.queries.similarity2 import sample_kcenter_seeds
    got = sorted(sample_kcenter_seeds(spark, sf_dir).collect(),
                 key=lambda r: r.pick_order)
    assert [r.pick_order for r in got] == [1, 2, 3, 4, 5]
    ids, _, v = _milli_vectors(sf_dir)
    sel = [int(np.where(ids == 0)[0][0])]
    mind = {i: int(((v[i] - v[sel[0]]) ** 2).sum())
            for i in range(len(ids)) if ids[i] != 0}
    dists = [None]
    for _ in range(4):
        pick = max(mind, key=lambda i: (mind[i], -int(ids[i])))
        dists.append(mind[pick])
        sel.append(pick)
        del mind[pick]
        for i in mind:
            mind[i] = min(mind[i], int(((v[i] - v[pick]) ** 2).sum()))
    assert [r.vec_id for r in got] == [int(ids[i]) for i in sel]
    assert [r.sel_dist for r in got] == dists
    # Coverage radius is the maximin of the unselected remainder, and
    # the greedy picks are non-increasing in selection distance.
    assert got[0].coverage_d2 == max(mind.values())
    picks = [r.sel_dist for r in got[1:]]
    assert all(a >= b for a, b in zip(picks, picks[1:]))
    assert got[0].coverage_d2 <= picks[-1]


def test_markov_removal_effect_replay(spark, sf_dir):
    from excel_to_db_spark.queries.operational import (
        attribution_markov_removal)
    got = {r.channel: r for r in
           attribution_markov_removal(spark, sf_dir).collect()}

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_id",
                                  "event_type"])
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    edges = {}
    for _, g in ev.groupby("user_id"):
        states = []
        for t in g["event_type"]:
            states.append("CONV" if t == "purchase" else t)
            if t == "purchase":
                break
        path = ["START"] + states
        if path[-1] != "CONV":
            path.append("END")
        for a, b in zip(path, path[1:]):
            edges[(a, b)] = edges.get((a, b), 0) + 1
    froms = {a for a, _ in edges}
    redirected = {}
    for (a, b), c in edges.items():
        if b not in froms and b not in ("CONV", "END"):
            b = "END"
        redirected[(a, b)] = redirected.get((a, b), 0) + c
    edges = redirected
    tots = {}
    for (a, _), c in edges.items():
        tots[a] = tots.get(a, 0) + c
    w = {(a, b): (c * 10**6) // tots[a] for (a, b), c in edges.items()}

    def run(removed=None):
        e = {(a, ("END" if b == removed else b)): wt
             for (a, b), wt in w.items() if a != removed}
        v = {"START": 10**6}
        for _ in range(6):
            nv = {s: p for s, p in v.items() if s in ("CONV", "END")}
            for (a, b), wt in e.items():
                if a in v and a not in ("CONV", "END"):
                    nv[b] = nv.get(b, 0) + (v[a] * wt) // 10**6
            v = nv
        return v.get("CONV", 0)

    pb = run()
    assert got["base"].p_conv_micro == pb
    assert got["base"].removal_effect_micro is None
    for ch in froms - {"START"}:
        pr = run(ch)
        assert got[ch].p_conv_micro == pr
        assert got[ch].removal_effect_micro == ((pb - pr) * 10**6) // pb
        assert 0 <= got[ch].removal_effect_micro <= 10**6
