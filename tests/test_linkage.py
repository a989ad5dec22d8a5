"""Semantic guards for the record-linkage batch: a pure-Python
reimplementation of the corruption + candidate generation + FS scoring
pipeline at sf0.001 (200 parts) grades the Spark operators value for
value, including ground-truth recovery rates."""

from __future__ import annotations

import math

import pandas as pd

from conftest import h32


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _corpus(sf_dir):
    p = pd.read_parquet(f"{sf_dir}/part.parquet")
    clean, dirty = {}, {}
    for r in p.itertuples():
        s = f"{r.p_name} {r.p_brand} {r.p_type} sz{r.p_size}"
        clean[r.p_partkey] = s
        op = h32(f"ed:{r.p_partkey}") % 4
        pos = 1 + h32(f"pos:{r.p_partkey}") % (len(s) - 1)
        i = pos - 1                      # 0-based
        if op == 0:
            d = s[:i] + s[i + 1:]
        elif op == 1:
            d = s[:i + 1] + s[i] + s[i + 1:]
        elif op == 2:
            d = s[:i] + s[i + 1] + s[i] + s[i + 2:]
        else:
            d = s
        dirty[r.p_partkey] = d
    return clean, dirty


def _bk(s):
    return s.split(" ")[-1] + ":" + s[:2]


def _block_pairs(clean, dirty):
    return {(ci, di) for ci, cs in clean.items()
            for di, ds in dirty.items() if _bk(cs) == _bk(ds)}


def _snm_pairs(clean, dirty):
    recs = ([(s[:1], s, "c", i) for i, s in clean.items()]
            + [(s[:1], s, "d", i) for i, s in dirty.items()])
    recs.sort(key=lambda t: (t[0], t[1], t[2], t[3]))
    out = set()
    for a in range(len(recs)):
        for b in range(a + 1, min(a + 5, len(recs))):
            ra, rb = recs[a], recs[b]
            if ra[0] != rb[0] or ra[2] == rb[2]:
                continue
            if ra[2] == "c":
                out.add((ra[3], rb[3]))
            else:
                out.add((rb[3], ra[3]))
    return out


def _score(cs, ds):
    w = 0
    d = _lev(cs, ds)
    w += (round(math.log2(0.55 / 0.002) * 1e6) if d == 0 else
          round(math.log2(0.40 / 0.008) * 1e6) if d == 1 else
          round(math.log2(0.05 / 0.99) * 1e6))
    w += (round(math.log2(0.90 / 0.02) * 1e6)
          if cs.split(" ")[-1] == ds.split(" ")[-1]
          else round(math.log2(0.10 / 0.98) * 1e6))
    w += (round(math.log2(0.95 / 0.05) * 1e6) if cs[:2] == ds[:2]
          else round(math.log2(0.05 / 0.95) * 1e6))
    return w


def test_blocking_census(spark, sf_dir):
    from excel_to_db_spark.queries.linkage import linkage_blocking_census
    row = linkage_blocking_census(spark, sf_dir).collect()[0]
    clean, dirty = _corpus(sf_dir)
    pairs = _block_pairs(clean, dirty)
    true = sum(1 for c, d in pairs if c == d)
    assert (row.n_cand, row.n_true) == (len(pairs), true)
    assert row.completeness_micro == true * 1_000_000 // len(dirty)
    assert row.reduction_micro == (1_000_000 - len(pairs) * 1_000_000
                                   // (len(clean) * len(dirty)))


def test_sorted_neighborhood(spark, sf_dir):
    from excel_to_db_spark.queries.linkage import linkage_sorted_neighborhood
    row = linkage_sorted_neighborhood(spark, sf_dir).collect()[0]
    clean, dirty = _corpus(sf_dir)
    pairs = _snm_pairs(clean, dirty)
    true = sum(1 for c, d in pairs if c == d)
    assert (row.n_cand, row.n_true) == (len(pairs), true)
    # SNM must add pairs the block key misses only when corruption hit
    # the key; both passes together should beat either alone
    assert true <= len(dirty)


def test_fellegi_sunter(spark, sf_dir):
    from excel_to_db_spark.queries.linkage import linkage_fellegi_sunter
    rows = {r.cls: r for r in linkage_fellegi_sunter(spark, sf_dir).collect()}
    clean, dirty = _corpus(sf_dir)
    cand = _block_pairs(clean, dirty) | _snm_pairs(clean, dirty)
    exp = {}
    for c, d in cand:
        s = _score(clean[c], dirty[d])
        cls = ("match" if s >= 12_000_000
               else "possible" if s >= 0 else "non")
        n, t, lo, hi = exp.get(cls, (0, 0, None, None))
        exp[cls] = (n + 1, t + (c == d),
                    s if lo is None else min(lo, s),
                    s if hi is None else max(hi, s))
    got = {k: (r.n_pairs, r.n_true, r.min_score, r.max_score)
           for k, r in rows.items()}
    assert got == exp
    # the match class must be high-precision on this corpus
    n, t, *_ = exp["match"]
    assert t / n > 0.9


def test_transitive_merge(spark, sf_dir):
    from excel_to_db_spark.queries.linkage import linkage_transitive_merge
    rows = {r.csize: r.n_clusters
            for r in linkage_transitive_merge(spark, sf_dir).collect()}
    clean, dirty = _corpus(sf_dir)
    cand = _block_pairs(clean, dirty) | _snm_pairs(clean, dirty)
    edges = [(2 * c, 2 * d + 1) for c, d in cand
             if _score(clean[c], dirty[d]) >= 12_000_000]
    lbl = {}
    for u, v in edges:
        lbl[u] = u
        lbl[v] = v
    bi = edges + [(v, u) for u, v in edges]
    for _ in range(3):
        nxt = dict(lbl)
        for u, v in bi:
            nxt[u] = min(nxt[u], lbl[v])
        lbl = nxt
    sizes = {}
    for root in lbl.values():
        sizes[root] = sizes.get(root, 0) + 1
    hist = {}
    for s in sizes.values():
        hist[s] = hist.get(s, 0) + 1
    assert rows == hist
