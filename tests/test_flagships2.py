"""Semantic guards for the mixed-flagship batch: register-level HLL
recomputation (plus the sketch-union merge law), CEM ATT, BLEU clipped
counts against an independent n-gram counter, and ERR against a float
cascade recomputation."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

from conftest import h32

W_BITS = 26


def _registers(keys):
    regs = {}
    for k in keys:
        h = h32(f"hll:{k}")
        b, w = h >> W_BITS, h % (1 << W_BITS)
        r = (W_BITS + 1) if w == 0 else (W_BITS + 1 - w.bit_length())
        regs[b] = max(regs.get(b, 0), r)
    return regs


def test_hll_manual(spark, sf_dir):
    from excel_to_db_spark.queries.flagships2 import sketch_hll_manual
    r = sketch_hll_manual(spark, sf_dir).collect()[0]
    keys = pd.read_parquet(f"{sf_dir}/orders.parquet",
                           columns=["o_custkey"]).o_custkey.tolist()
    regs = _registers(keys)
    znum = sum(2 ** (W_BITS + 1 - regs.get(b, 0)) for b in range(64))
    est = 709 * 64 * 64 * 2 ** (W_BITS + 1) // znum
    assert (r.n_true, r.n_buckets_hit, r.max_register, r.znum,
            r.est_milli) == (len(set(keys)), len(regs),
                             max(regs.values()), znum, est)
    # estimate within 4 RSE of truth (RSE = 13% at m=64)
    assert abs(r.est_milli / 1000 - r.n_true) < 0.52 * r.n_true
    # merge law: union of half-sketches == full sketch registers
    half1 = _registers([k for k in keys if k % 2 == 0])
    half2 = _registers([k for k in keys if k % 2 == 1])
    merged = {b: max(half1.get(b, 0), half2.get(b, 0))
              for b in set(half1) | set(half2)}
    assert merged == regs


def test_cem_att(spark, sf_dir):
    from excel_to_db_spark.queries.flagships2 import causal_cem_att
    r = causal_cem_att(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "event_type"])
    g = ev.groupby("user_id").event_type
    cnt = g.value_counts().unstack(fill_value=0)
    tot = g.count()
    cells = {}
    n_treated_total = 0
    for uid in cnt.index:
        cx = int(cnt.loc[uid].get("click", 0)) // 5
        cy = int(cnt.loc[uid].get("view", 0)) // 5
        treated = int(cnt.loc[uid].get("error", 0)) * 5 > int(tot[uid])
        y = int(cnt.loc[uid].get("purchase", 0))
        nt, yt, nc, yc = cells.get((cx, cy), (0, 0, 0, 0))
        if treated:
            nt, yt = nt + 1, yt + y
            n_treated_total += 1
        else:
            nc, yc = nc + 1, yc + y
        cells[(cx, cy)] = (nt, yt, nc, yc)
    matched = [(nt, yt, nc, yc) for nt, yt, nc, yc in cells.values()
               if nt > 0 and nc > 0]
    snt = sum(m[0] for m in matched)
    num = sum((yt * 10 ** 6 // nt - yc * 10 ** 6 // nc) * nt
              for nt, yt, nc, yc in matched)
    att = abs(num) // snt * (1 if num >= 0 else -1)
    assert (r.n_cells_matched, r.n_treated_matched,
            r.n_treated_total) == (len(matched), snt, n_treated_total)
    assert r.att_micro == att


def test_bleu_counts(spark, sf_dir):
    from excel_to_db_spark.queries.flagships2 import eval_bleu_counts
    rows = {r.n: r for r in eval_bleu_counts(spark, sf_dir).collect()}
    d = pd.read_parquet(f"{sf_dir}/documents.parquet",
                        columns=["doc_id", "lang", "text"])
    en = d[d.lang == "en"].sort_values("doc_id")
    texts = en.text.tolist()
    for n in (1, 2, 3, 4):
        total = clip = 0
        for c, ref in zip(texts, texts[1:]):
            ct, rt = c.split(" "), ref.split(" ")
            cg = Counter(tuple(ct[i:i + n])
                         for i in range(len(ct) - n + 1))
            rg = Counter(tuple(rt[i:i + n])
                         for i in range(len(rt) - n + 1))
            total += sum(cg.values())
            clip += sum(min(v, rg.get(k, 0)) for k, v in cg.items())
        r = rows[n]
        assert (r.total_cand, r.clipped) == (total, clip)
        assert r.prec_micro == clip * 1_000_000 // total
    # unigram precision should dominate 4-gram precision
    assert rows[1].prec_micro >= rows[4].prec_micro


def test_err_rank(spark, sf_dir):
    from excel_to_db_spark.queries.flagships2 import eval_err_rank
    rows = {r.q_id: r for r in eval_err_rank(spark, sf_dir).collect()}
    e = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    qv = {int(r.vec_id): np.round(np.asarray(r.embedding, dtype="float64")
                                  * 1e6).astype("int64")
          for r in e.itertuples()}
    lab = dict(zip(e.vec_id.astype(int), e.label.astype(int)))
    denom = 2520 * 8 ** 10
    for p in qv:
        if p % 100 != 0:
            continue
        ds = sorted((int(((qv[p] - qv[c]) ** 2).sum()), c)
                    for c in qv if c != p)[:10]
        s = 0
        pnum = 1
        n_rel = 0
        for j, (_, c) in enumerate(ds, start=1):
            rel = lab[c] == lab[p]
            rnum = 7 if rel else 0
            n_rel += rel
            s += rnum * pnum * (2520 // j) * 8 ** (10 - j)
            pnum *= 1 if rel else 8
        r = rows[p]
        assert (r.err_micro, r.n_rel) == (s * 1_000_000 // denom, n_rel)
        # sanity vs float cascade
        err_f = 0.0
        pf = 1.0
        for j, (_, c) in enumerate(ds, start=1):
            R = 7 / 8 if lab[c] == lab[p] else 0.0
            err_f += pf * R / j
            pf *= 1 - R
        assert abs(r.err_micro / 1e6 - err_f) < 1e-5
