"""Data-selection operators (round 5, batch 4): the *scoring* half of a
pretraining curation stack — published rule-based quality filtering
(Gopher, Rae et al. 2021), importance-weighted data selection (DSIR,
Xie et al. 2023, hashed-n-gram importance resampling), and neighbor-set
link prediction over the supplier-part bipartite graph. The reference
engine (294 LoC of Rust delegating to SQLite, reference src/main.rs)
has none of this surface; these extend the Tier-C mission set next to
queries/curation.py (shuffle/pack/mixture) and queries/curation2.py
(split census / source dup matrix / winnowing).

Determinism contract (SURVEY §4.3): every per-row score is either
integer-exact (rule predicates, Jaccard micro-units via integer DIV) or
snapped to fixed-point micro-units per row BEFORE any unordered
aggregation (DSIR log-ratio weights: round(ln(..)*1e6) per hash bucket,
summed as exact BIGINT), so merge order can never move a rounded
result.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import physical
from ..operators import text as X
from ..numerics import h32, h32_sql, u01, u01_sql, wide, wide_sql
from .registry import query
from .relational import T
from .tradegraph import SUPP_PART_SQL, capped_edges, supp_part



# ------------------------------------------ Gopher rule-based filtering

_SW_EN_SQL = "[" + ", ".join(f"'{w}'" for w in X.LANG_STOPWORDS["en"]) + "]"


def gopher_rules(t):
    """The five Gopher rule predicates as named boolean Columns over a
    text Column — THE one definition consumed by the batch census
    (`text_gopher_rules`), its streaming twin (`stream_quality_census`),
    and the curation funnel (`pipeline_curation_funnel`); a threshold
    tuned here moves all three together."""
    toks = X.tokens(t)
    n_tok = X.token_count(t)
    sum_len = F.length(F.regexp_replace(t, " ", ""))
    sw = F.array(*[F.lit(w) for w in X.LANG_STOPWORDS["en"]])
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    n_stop_dis = F.size(F.array_intersect(F.array_distinct(toks), sw))
    max_freq = F.array_max(F.transform(
        F.array_distinct(toks),
        lambda d_: F.size(F.filter(toks, lambda x: x == d_))))
    return {
        "r_wc": n_tok.between(50, 100000),
        "r_mwl": (3 * n_tok <= sum_len) & (sum_len <= 10 * n_tok),
        "r_alpha": 5 * n_alpha >= 4 * n_tok,
        "r_stop": n_stop_dis >= 2,
        "r_rep": 5 * max_freq <= n_tok,
    }


def gopher_census(d):
    """The Gopher-rule census aggregation over a documents DataFrame —
    shared by the batch key (`text_gopher_rules`) and its streaming
    twin (`stream_quality_census`): stateless per-row predicates plus
    one 5-group aggregate, so it runs unchanged under Structured
    Streaming's complete output mode."""
    rules = gopher_rules(F.col("text"))
    r = d.select(
        "lang",
        *[F.when(cond, 1).otherwise(0).alias(name)
          for name, cond in rules.items()])
    return (r.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("r_wc").alias("pass_wordcount"),
                 F.sum("r_mwl").alias("pass_meanwordlen"),
                 F.sum("r_alpha").alias("pass_alpha"),
                 F.sum("r_stop").alias("pass_stopwords"),
                 F.sum("r_rep").alias("pass_repetition"),
                 F.sum(F.col("r_wc") * F.col("r_mwl") * F.col("r_alpha")
                       * F.col("r_stop") * F.col("r_rep")).alias("pass_all")))


@query("text_gopher_rules", oracle=f"""
    WITH f AS (
        SELECT lang,
               string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n_tok,
               len(replace(text, ' ', '')) AS sum_len
        FROM documents
    ),
    r AS (
        SELECT lang,
               CASE WHEN n_tok BETWEEN 50 AND 100000
                    THEN 1 ELSE 0 END AS r_wc,
               CASE WHEN 3 * n_tok <= sum_len AND sum_len <= 10 * n_tok
                    THEN 1 ELSE 0 END AS r_mwl,
               CASE WHEN 5 * len(list_filter(toks,
                                 t -> regexp_matches(t, '[a-z]')))
                         >= 4 * n_tok
                    THEN 1 ELSE 0 END AS r_alpha,
               CASE WHEN len(list_intersect(list_distinct(toks),
                                            {_SW_EN_SQL})) >= 2
                    THEN 1 ELSE 0 END AS r_stop,
               CASE WHEN 5 * list_max(list_transform(list_distinct(toks),
                                 d -> len(list_filter(toks, t -> t = d))))
                         <= n_tok
                    THEN 1 ELSE 0 END AS r_rep
        FROM f
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(r_wc) AS BIGINT) AS pass_wordcount,
           CAST(sum(r_mwl) AS BIGINT) AS pass_meanwordlen,
           CAST(sum(r_alpha) AS BIGINT) AS pass_alpha,
           CAST(sum(r_stop) AS BIGINT) AS pass_stopwords,
           CAST(sum(r_rep) AS BIGINT) AS pass_repetition,
           CAST(sum(r_wc * r_mwl * r_alpha * r_stop * r_rep) AS BIGINT)
               AS pass_all
    FROM r GROUP BY lang
""")
def text_gopher_rules(spark, sf_dir):
    """Gopher-style rule-based quality census (Rae et al. 2021 §A1.1),
    per language: how many documents pass each of five published
    filters, and how many pass all of them.

      wordcount    50 <= #tokens <= 100,000
      meanwordlen  3 <= mean token length <= 10
      alpha        >= 80% of tokens contain an alphabetic character
      stopwords    >= 2 distinct English stop words present (the rule
                   is English-centric by design — the census shows it
                   rejecting most non-en docs, which is exactly the
                   behavior a multilingual pipeline must budget for)
      repetition   most frequent token <= 20% of all tokens

    Every predicate is integer-exact (mean-word-length as the cross-
    multiplied 3*n <= sum_len <= 10*n, alpha fraction as 5*hits >= 4*n)
    so no float ever reaches the comparison — the census is bit-stable
    on any engine at any scale.

    Scale shape: one narrow projected scan (text, lang), all five rules
    evaluated per-row with JVM-side array HOFs (no shuffle, no Python),
    then a 5-group map-side-combined aggregate. The per-row repetition
    rule is O(distinct_tokens * n_tok) on short web documents — bounded
    by the wordcount rule itself at the 100k ceiling."""
    return gopher_census(T(spark, sf_dir, "documents"))


# ----------------------------------- DSIR importance-weighted selection

@query("pipeline_dsir_weights", oracle=f"""
    WITH ht AS (
        SELECT doc_id, lang,
               {h32_sql("'dsir:' || tok")} % 1024 AS b
        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
              FROM documents)
    ),
    tot AS (
        SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS nt,
               CAST(count(*) AS BIGINT) AS nr
        FROM ht
    ),
    rc AS (
        SELECT b, CAST(count(*) AS BIGINT) AS cr,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ct
        FROM ht GROUP BY b
    ),
    w AS (
        SELECT b,
               CAST(round(ln(((ct + 1.0) / (nt + 1024))
                             / ((cr + 1.0) / (nr + 1024))) * 1000000)
                    AS BIGINT) AS wt
        FROM rc, tot
    ),
    ds AS (
        SELECT ht.doc_id, any_value(ht.lang) AS lang,
               CAST(sum(w.wt) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM ht JOIN w USING (b) GROUP BY ht.doc_id
    ),
    sc AS (
        SELECT lang, CAST(round(s * 1.0 / n) AS BIGINT) AS llr_micro
        FROM ds
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN llr_micro > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_selected,
           round(sum(llr_micro) * 1.0 / count(*) / 1000000, 6) AS avg_llr
    FROM sc GROUP BY lang
""")
def pipeline_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed-unigram distribution is.
    Target = English documents, raw = whole corpus; feature space =
    unigrams hashed to 1024 buckets; per-bucket weight = the Laplace-
    smoothed log-likelihood ratio ln(p_target(b) / p_raw(b)); per-doc
    score = mean weight over its tokens. The census reports, per
    language, how many docs the score>0 selection keeps — en documents
    dominate the selected set, which is the method working as published.

    Fixed-point rule (SURVEY §4.3): each bucket weight is snapped to
    integer micro-units (round(ln*1e6) — a deterministic function of
    exact integer counts) BEFORE the per-doc summation, so doc scores
    are exact BIGINTs and no unordered float merge exists anywhere; the
    per-doc mean is re-snapped once (round(s/n), again deterministic
    per row).

    Scale shape: the n-gram "language models" are just two 1024-bucket
    count vectors — one map-side-combined aggregate over the exploded
    corpus; the weight table (<=1024 rows) broadcasts back onto the
    token stream, and the per-doc reduce is the only corpus-wide
    shuffle. This is the production DSIR shape: the model is tiny and
    broadcastable no matter how large the corpus."""
    d = physical.fan_out(T(spark, sf_dir, "documents"))
    ht = (d.select("doc_id", "lang",
                   F.explode(X.tokens(F.col("text"))).alias("tok"))
          .select("doc_id", "lang",
                  F.pmod(h32(F.concat(F.lit("dsir:"), F.col("tok"))),
                         F.lit(1024)).alias("b")))
    is_en = F.when(F.col("lang") == "en", 1).otherwise(0)
    rc = ht.groupBy("b").agg(F.count("*").alias("cr"),
                             F.sum(is_en).alias("ct"))
    # corpus totals fold out of the bucket counts (<=1024 rows) — no
    # separate corpus-wide scan/aggregate needed
    tot = rc.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    w = (rc.crossJoin(F.broadcast(tot))
         .select("b",
                 F.round(F.log(((F.col("ct") + 1.0) / (F.col("nt") + 1024))
                               / ((F.col("cr") + 1.0) / (F.col("nr") + 1024)))
                         * 1000000).cast("bigint").alias("wt")))
    # lang rides in the grouping key (functionally dependent on doc_id)
    # instead of a first() agg — first() forces a SortAggregate + Sort,
    # a plain hash aggregate is strictly cheaper
    ds = (ht.join(F.broadcast(w), "b")
          .groupBy("doc_id", "lang")
          .agg(F.sum("wt").alias("s"), F.count("*").alias("n")))
    sc = ds.select("lang", F.round(F.col("s") * 1.0 / F.col("n"))
                   .cast("bigint").alias("llr_micro"))
    return (sc.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.when(F.col("llr_micro") > 0, 1).otherwise(0))
                 .alias("n_selected"),
                 F.round(F.sum("llr_micro") * 1.0 / F.count("*") / 1000000, 6)
                 .alias("avg_llr")))


# -------------------------------- neighbor-Jaccard link prediction

@query("graph_jaccard_neighbors", oracle=f"""
    WITH {SUPP_PART_SQL},
    spc AS (
        SELECT sp.s, sp.p FROM sp JOIN pc USING (p) WHERE pc.c <= 64
    ),
    wedge AS (
        SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS co
        FROM spc a JOIN spc b ON a.p = b.p AND a.s < b.s
        GROUP BY a.s, b.s
    )
    SELECT w.s1, w.s2, w.co,
           d1.d AS deg1, d2.d AS deg2,
           CAST((1000000 * w.co) // (d1.d + d2.d - w.co) AS BIGINT)
               AS jaccard_micro
    FROM wedge w
    JOIN deg d1 ON w.s1 = d1.s
    JOIN deg d2 ON w.s2 = d2.s
    ORDER BY jaccard_micro DESC, s1, s2
    LIMIT 20
""")
def graph_jaccard_neighbors(spark, sf_dir):
    """Link prediction by neighbor-set Jaccard over the supplier-part
    bipartite graph: two suppliers are similar when they ship largely
    the same parts. Candidate pairs come from a wedge join (suppliers
    sharing at least one part), |A∩B| is the per-pair wedge count,
    |A∪B| = deg(A)+deg(B)-|A∩B|, and the similarity is emitted in
    exact integer micro-units ((1e6*co) DIV union — both engines
    truncate toward zero on positive operands), top-20 with a total
    (jaccard, s1, s2) tie-break order.

    Skew guard: wedges are generated only through parts with <= 64
    distinct suppliers (a hub part with s suppliers emits O(s^2)
    wedges; capping bounds the per-key blowup the way minhash banding
    bounds candidate pairs). Degrees stay exact (computed on the
    uncapped edge set), so a capped pair's Jaccard is a documented
    lower bound — the standard recall/cost trade of every blocked
    similarity join in this repo.

    Scale shape (r12, guide §2.4): the distinct edge projection is
    computed ONCE (checkpointed leaf — the r11 plan re-scanned
    lineitem and re-ran the distinct SIX times: wedge sides, their
    part-count prefilters, both degree joins); the 2..64 cap
    prefilters map-side (bounded_broadcast on the part dimension), and
    the wedge self-join sort-merges the two identical capped subtrees
    (a checkpointed leaf has no stats, so the data-sized broadcast the
    r11 planner picked for the build side is correctly off the table).
    The c >= 2 bound added to the cap filter is semantics-free: a
    single-supplier part emits no wedge. One (s1,s2) wedge-count
    aggregate, two broadcast joins against the tiny degree table."""
    sp, pc, deg = supp_part(spark, sf_dir)
    spc = capped_edges(sp, pc, sf_dir).select("s", "p")
    a, b = spc.alias("a"), spc.alias("b")
    wedge = (a.join(b, (F.col("a.p") == F.col("b.p"))
                    & (F.col("a.s") < F.col("b.s")))
             .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
             .agg(F.count("*").alias("co")))
    res = (wedge
           .join(F.broadcast(deg.select(F.col("s").alias("s1"),
                                        F.col("d").alias("deg1"))), "s1")
           .join(F.broadcast(deg.select(F.col("s").alias("s2"),
                                        F.col("d").alias("deg2"))), "s2")
           .select("s1", "s2", "co", "deg1", "deg2",
                   F.expr("CAST((1000000 * co) DIV (deg1 + deg2 - co) "
                          "AS BIGINT)").alias("jaccard_micro")))
    return (res.orderBy(F.col("jaccard_micro").desc(), "s1", "s2")
            .limit(20))


# ------------------------------------ corpus drift via MMD (moment trick)

@query("embedding_drift_mmd", oracle=f"""
    WITH q AS MATERIALIZED (
        SELECT vec_id, CASE WHEN label < 5 THEN 0 ELSE 1 END AS grp,
               k.k AS k,
               CAST(floor(CAST(embedding[k.k + 1] AS DOUBLE) * 1000
                          + 0.5) AS BIGINT) AS q
        FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS k) k
    ),
    g AS MATERIALIZED (
        SELECT a.grp, a.k AS i, b.k AS j,
               CAST(sum(a.q * b.q) AS BIGINT) AS gv
        FROM q a JOIN q b USING (vec_id)
        GROUP BY 1, 2, 3
    ),
    n AS (
        SELECT CAST(sum(CASE WHEN label < 5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS na,
               CAST(sum(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb
        FROM embeddings
    ),
    t AS (
        SELECT sum({wide_sql('ga.gv')} * ga.gv) AS tr_aa,
               sum({wide_sql('gb.gv')} * gb.gv) AS tr_bb,
               sum({wide_sql('ga.gv')} * gb.gv) AS tr_ab
        FROM (SELECT i, j, gv FROM g WHERE grp = 0) ga
        JOIN (SELECT i, j, gv FROM g WHERE grp = 1) gb USING (i, j)
    )
    SELECT n.na, n.nb,
           round(CAST(t.tr_aa * n.nb * n.nb + t.tr_bb * n.na * n.na
                      - 2 * t.tr_ab * n.na * n.nb AS DOUBLE)
                 / (CAST(n.na AS DOUBLE) * n.na * n.nb * n.nb)
                 / 1000000000000.0, 6) AS mmd2
    FROM t, n
""")
def embedding_drift_mmd(spark, sf_dir):
    """Corpus drift between two embedding populations (labels 0-4 vs
    5-9) as Maximum Mean Discrepancy with the quadratic kernel
    k(x,y) = (x.y)^2 — the two-sample distribution test a training
    pipeline runs when a new crawl batch lands. The V-statistic
    MMD^2 = E_aa[k] + E_bb[k] - 2 E_ab[k] normally costs O(n^2)
    kernel evaluations; with the quadratic kernel every pairwise sum
    collapses onto the groups' Gramians: sum_ij (x_i . y_j)^2 =
    tr(G_a G_b), so the WHOLE statistic needs only two d x d moment
    matrices — the same "moments, never pairs" escape hatch as
    `stats_ols_multi` (normal equations) and `embedding_pca_power`.

    Exactness: components quantized to exact milli-units, Gramians are
    exact int64 (`operators/similarity.py:gramian_int`), trace products
    accumulate in DECIMAL(38,0)/HUGEINT, and the three traces combine
    over the common denominator na^2*nb^2 into ONE exact integer before
    the single final double division — no float cancellation anywhere
    (the naive E_aa + E_bb - 2E_ab subtraction of ~1e13-magnitude
    doubles would lose exactly the digits the statistic lives in).

    Scale shape: one mapInArrow Gramian pass per group (numpy m.T @ m
    per Arrow batch, d^2-row partials, one tiny (i,j) shuffle); the
    corpus is never joined to itself. Headroom: G entries ~ n*1e6 keep
    trace products inside DECIMAL(38,0) past 1e9 vectors per group."""
    e = T(spark, sf_dir, "embeddings")
    from ..operators.similarity import gramian_int

    a = e.filter(F.col("label") < 5)
    b = e.filter(F.col("label") >= 5)
    ga = gramian_int(a, scale=1e3)
    gb = gramian_int(b, scale=1e3)
    n = e.agg(
        F.sum(F.when(F.col("label") < 5, 1).otherwise(0)).cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("label") >= 5, 1).otherwise(0)).cast("bigint")
        .alias("nb"))
    t = (ga.alias("ga")
         .join(gb.alias("gb"), ["i", "j"])
         .agg(F.sum(wide("ga.g") * F.col("ga.g")).alias("tr_aa"),
              F.sum(wide("gb.g") * F.col("gb.g")).alias("tr_bb"),
              F.sum(wide("ga.g") * F.col("gb.g")).alias("tr_ab")))
    return (t.crossJoin(F.broadcast(n))
            .select("na", "nb",
                    F.round((F.col("tr_aa") * F.col("nb") * F.col("nb")
                             + F.col("tr_bb") * F.col("na") * F.col("na")
                             - 2 * F.col("tr_ab") * F.col("na") * F.col("nb"))
                            .cast("double")
                            / (F.col("na").cast("double") * F.col("na")
                               * F.col("nb") * F.col("nb"))
                            / 1e12, 6).alias("mmd2")))


# ----------------------------------------- tokenizer fertility census

@query("text_tokenizer_fertility", oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
           CAST(sum(len(regexp_extract_all(text,
                        '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
               AS n_subword_tokens,
           round(sum(len(regexp_extract_all(text,
                         '[a-z]+|[0-9]+|[^a-z0-9 ]'))) * 1.0
                 / sum(len(string_split(text, ' '))), 6) AS fertility
    FROM documents GROUP BY lang
""")
def text_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility by language: subword tokens emitted per
    whitespace word — THE metric a multilingual tokenizer is judged by
    (fertility far above 1 means a language pays more sequence length
    per word, trains slower, and effectively buys less context; the
    reason vocabularies are rebalanced across languages). Uses the
    repo's BPE-ish subword proxy (`operators/text.py:
    bpe_ish_token_count`, RE2-safe so both engines tokenize
    identically); the ratio is one deterministic double division of
    two exact BIGINT sums.

    Scale shape: a pure map-side-combinable census — one projected
    scan, per-row regexp counting in codegen, a 5-group aggregate."""
    d = T(spark, sf_dir, "documents")
    n_words = F.sum(X.token_count(F.col("text")))
    n_sub = F.sum(X.bpe_ish_token_count(F.col("text")))
    return (d.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 n_words.alias("n_words"),
                 n_sub.alias("n_subword_tokens"),
                 F.round(n_sub * 1.0 / n_words, 6).alias("fertility")))


# ------------------------------------- policy-aware dedup (keep best)

@query("dedup_quality_keep_best", oracle=f"""
    WITH feat AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fp,
               len(string_split(text, ' ')) AS n_tok,
               len(list_distinct(string_split(text, ' '))) AS n_dis,
               len(list_filter(string_split(text, ' '),
                               t -> list_contains({_SW_EN_SQL}, t))) AS stop
        FROM documents
    ),
    q AS (
        SELECT doc_id, fp,
               CAST(round(round(least(n_tok / 20.0, 1.0)
                                * least(n_dis * 2.0 / n_tok, 1.0)
                                * least(stop * 10.0 / n_tok, 1.0), 6)
                          * 1000000) AS BIGINT) AS qm
        FROM feat
    ),
    cl AS (
        SELECT fp, CAST(count(*) AS BIGINT) AS sz,
               max(qm * 1000000000 + (999999999 - doc_id)) AS best_key,
               min(doc_id * 1000000000 + qm) AS first_key
        FROM q GROUP BY fp HAVING count(*) > 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz - 1) AS BIGINT) AS n_dropped,
           CAST(sum(best_key // 1000000000
                    - first_key % 1000000000) AS BIGINT)
               AS quality_gain_micro
    FROM cl
""")
def dedup_quality_keep_best(spark, sf_dir):
    """Policy-aware exact dedup: within each duplicate cluster (same
    sorted-word-set fingerprint as `dedup_exact` / `pipeline_training_
    data`), compare the naive KEEP-FIRST policy (lowest doc_id — what
    a streaming pipeline does by arrival order) against KEEP-BEST
    (highest quality score, ties to the lower doc_id), and report the
    total quality improvement buying the better policy earns. This is
    the census a curation team runs before deciding whether
    quality-ranked dedup is worth a second pass over the corpus.

    Exactness: the quality score is snapped to integer micro-units per
    row, then BOTH policies fold into single min/max agg keys
    (best = max(qm*1e9 + (1e9 - doc_id)) — max quality then min id;
    first = min(doc_id*1e9 + qm) — min id carrying its own quality), so
    the whole comparison is two map-side-combinable extrema per
    cluster. The id complement is 999999999 - doc_id so doc_id 0 (a
    real id in this corpus) cannot carry into the quality digits;
    doc_id <= 999999999 and qm <= 1e6 keep the packed keys exact in
    BIGINT (bound documented; at larger id spaces widen to
    DECIMAL(38,0)).

    Scale shape: one fingerprint shuffle (the dedup pipeline's existing
    exchange) and a scalar rollup — the policy comparison is free
    relative to the dedup itself."""
    d = T(spark, sf_dir, "documents")
    t = F.col("text")
    qv = F.round(X.quality_score(t), 6)
    q = d.select(
        "doc_id", X.fingerprint(t).alias("fp"),
        F.round(qv * 1000000).cast("bigint").alias("qm"))
    cl = (q.groupBy("fp")
          .agg(F.count("*").alias("sz"),
               F.max(F.col("qm") * 1000000000
                     + (999999999 - F.col("doc_id"))).alias("best_key"),
               F.min(F.col("doc_id") * 1000000000
                     + F.col("qm")).alias("first_key"))
          .filter(F.col("sz") > 1))
    return cl.agg(
        F.count("*").alias("n_clusters"),
        F.sum(F.col("sz") - 1).alias("n_dropped"),
        F.sum(F.expr("CAST(best_key DIV 1000000000 AS BIGINT)")
              - F.col("first_key") % 1000000000)
        .alias("quality_gain_micro"))


# -------------------------------------- end-to-end curation funnel

@query("pipeline_curation_funnel", oracle=f"""
    WITH feat AS (
        SELECT doc_id, lang,
               string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n_tok,
               len(replace(text, ' ', '')) AS sum_len,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fp
        FROM documents
    ),
    rules AS (
        SELECT doc_id, lang, n_tok, fp,
               CASE WHEN n_tok BETWEEN 50 AND 100000
                     AND 3 * n_tok <= sum_len AND sum_len <= 10 * n_tok
                     AND 5 * len(list_filter(toks,
                                 t -> regexp_matches(t, '[a-z]')))
                         >= 4 * n_tok
                     AND len(list_intersect(list_distinct(toks),
                                            {_SW_EN_SQL})) >= 2
                     AND 5 * list_max(list_transform(list_distinct(toks),
                                 d -> len(list_filter(toks, t -> t = d))))
                         <= n_tok
                    THEN 1 ELSE 0 END AS ok_quality
        FROM feat
    ),
    ht AS (
        SELECT doc_id, lang,
               {h32_sql("'dsir:' || tok")} % 1024 AS b
        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
              FROM documents)
    ),
    rc AS (
        SELECT b, CAST(count(*) AS BIGINT) AS cr,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ct
        FROM ht GROUP BY b
    ),
    tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
                   CAST(sum(cr) AS BIGINT) AS nr FROM rc),
    w AS (
        SELECT b, CAST(round(ln(((ct + 1.0) / (nt + 1024))
                              / ((cr + 1.0) / (nr + 1024))) * 1000000)
                       AS BIGINT) AS wt
        FROM rc, tot
    ),
    ds AS (
        SELECT ht.doc_id,
               CAST(round(CAST(sum(w.wt) AS BIGINT) * 1.0 / count(*))
                    AS BIGINT) AS llr_micro
        FROM ht JOIN w USING (b) GROUP BY ht.doc_id
    ),
    f AS (
        SELECT rules.*, ds.llr_micro FROM rules JOIN ds USING (doc_id)
    ),
    s2 AS (SELECT * FROM f WHERE ok_quality = 1 AND llr_micro > 0),
    s3 AS (
        SELECT fp, min(doc_id * 1000000000 + n_tok) AS k
        FROM s2 GROUP BY fp
    )
    SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM f
    UNION ALL
    SELECT '1_quality', CAST(count(*) AS BIGINT),
           CAST(sum(n_tok) AS BIGINT) FROM f WHERE ok_quality = 1
    UNION ALL
    SELECT '2_target', CAST(count(*) AS BIGINT),
           CAST(sum(n_tok) AS BIGINT) FROM s2
    UNION ALL
    SELECT '3_dedup', CAST(count(*) AS BIGINT),
           CAST(sum(k % 1000000000) AS BIGINT) FROM s3
""")
def pipeline_curation_funnel(spark, sf_dir):
    """The whole curation pipeline as ONE query — the flagship
    composite a user of this engine actually ships: Gopher rule-based
    quality filtering (`text_gopher_rules`), DSIR target-likeness
    selection (`pipeline_dsir_weights`, score > 0), and exact dedup
    (keep-first per sorted-word-set fingerprint), reported as the
    stage-by-stage funnel (documents and tokens surviving each stage)
    that every data card publishes. Each stage reuses the exact
    formulation of its standalone key, so the funnel is their proven
    composition, not a third implementation.

    Scale shape: the per-doc feature pass (rules + fingerprint) is one
    projected scan with HOF predicates; DSIR adds its bucket-count agg
    + broadcast-weight scoring (the per-doc reduce is the one
    corpus-keyed shuffle); dedup folds into a fingerprint min-agg
    (representative doc_id and its token count packed into one BIGINT
    key, doc_id < 1e9 / n_tok < 1e9 documented); the four funnel rows
    are a UNION of scalar aggregates over the SAME feature frame —
    Spark computes the feature subtree once per branch with exchange
    reuse, and at production scale the frame would be checkpointed
    between stages anyway."""
    import functools
    import operator

    d = T(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    n_tok = X.token_count(F.col("text"))
    ok = functools.reduce(operator.and_,
                          gopher_rules(F.col("text")).values())
    rules = d.select("doc_id", n_tok.alias("n_tok"),
                     X.fingerprint(F.col("text")).alias("fp"),
                     F.when(ok, 1).otherwise(0).alias("ok_quality"))
    ht = (d.select("doc_id", "lang",
                   F.explode(toks).alias("tok"))
          .select("doc_id", "lang",
                  F.pmod(h32(F.concat(F.lit("dsir:"), F.col("tok"))),
                         F.lit(1024)).alias("b")))
    is_en = F.when(F.col("lang") == "en", 1).otherwise(0)
    rc = ht.groupBy("b").agg(F.count("*").alias("cr"),
                             F.sum(is_en).alias("ct"))
    tot = rc.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    w = (rc.crossJoin(F.broadcast(tot))
         .select("b",
                 F.round(F.log(((F.col("ct") + 1.0) / (F.col("nt") + 1024))
                               / ((F.col("cr") + 1.0) / (F.col("nr") + 1024)))
                         * 1000000).cast("bigint").alias("wt")))
    ds = (ht.join(F.broadcast(w), "b")
          .groupBy("doc_id")
          .agg(F.round(F.sum("wt") * 1.0 / F.count("*"))
               .cast("bigint").alias("llr_micro")))
    f = rules.join(ds, "doc_id")
    # r11 (guide §2): the four funnel rows previously UNIONed four
    # aggregate branches over the joined feature frame — exchange
    # reuse deduped the shuffles but each branch re-ran the
    # post-shuffle join. ONE pass now: a per-fingerprint partial
    # aggregate carries every stage's conditional sums (integer sums
    # regroup exactly) plus the dedup representative (min packed key
    # over the stage-2 members only), and a 1-row reduce over the fp
    # groups yields all eight totals, reshaped into the four funnel
    # rows with a literal stack — no data touched twice, no join
    # re-execution.
    in_s2 = (F.col("ok_quality") == 1) & (F.col("llr_micro") > 0)
    per_fp = (f.groupBy("fp")
              .agg(F.count("*").alias("g_docs"),
                   F.sum("n_tok").alias("g_tok"),
                   F.sum(F.when(F.col("ok_quality") == 1, 1)
                         .otherwise(0)).alias("g_q_docs"),
                   # token sums deliberately carry NO .otherwise(0):
                   # an empty stage must aggregate to NULL (sum over
                   # zero rows), matching the oracle's per-stage sums
                   F.sum(F.when(F.col("ok_quality") == 1,
                                F.col("n_tok"))).alias("g_q_tok"),
                   F.sum(F.when(in_s2, 1).otherwise(0)).alias("g_t_docs"),
                   F.sum(F.when(in_s2, F.col("n_tok"))).alias("g_t_tok"),
                   F.min(F.when(in_s2, F.col("doc_id") * 1000000000
                                + F.col("n_tok"))).alias("k")))
    # doc COUNTS coalesce to 0 (the oracle's count(*) over an empty
    # stage is 0) while the token SUMS stay NULL (sum over zero rows)
    tot = per_fp.agg(
        F.coalesce(F.sum("g_docs"), F.lit(0)).alias("d0"),
        F.sum("g_tok").cast("bigint").alias("t0"),
        F.coalesce(F.sum("g_q_docs"), F.lit(0)).alias("d1"),
        F.sum("g_q_tok").cast("bigint").alias("t1"),
        F.coalesce(F.sum("g_t_docs"), F.lit(0)).alias("d2"),
        F.sum("g_t_tok").cast("bigint").alias("t2"),
        F.count("k").alias("d3"),
        F.sum(F.col("k") % 1000000000).cast("bigint").alias("t3"))
    return tot.select(F.expr(
        "stack(4, '0_raw', d0, t0, '1_quality', d1, t1,"
        " '2_target', d2, t2, '3_dedup', d3, t3)"
        " AS (stage, n_docs, n_tokens)"))


@query("stream_quality_census", oracle=f"""
    WITH f AS (
        SELECT lang,
               string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n_tok,
               len(replace(text, ' ', '')) AS sum_len
        FROM documents
    ),
    r AS (
        SELECT lang,
               CASE WHEN n_tok BETWEEN 50 AND 100000
                    THEN 1 ELSE 0 END AS r_wc,
               CASE WHEN 3 * n_tok <= sum_len AND sum_len <= 10 * n_tok
                    THEN 1 ELSE 0 END AS r_mwl,
               CASE WHEN 5 * len(list_filter(toks,
                                 t -> regexp_matches(t, '[a-z]')))
                         >= 4 * n_tok
                    THEN 1 ELSE 0 END AS r_alpha,
               CASE WHEN len(list_intersect(list_distinct(toks),
                                            {_SW_EN_SQL})) >= 2
                    THEN 1 ELSE 0 END AS r_stop,
               CASE WHEN 5 * list_max(list_transform(list_distinct(toks),
                                 d -> len(list_filter(toks, t -> t = d))))
                         <= n_tok
                    THEN 1 ELSE 0 END AS r_rep
        FROM f
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(r_wc) AS BIGINT) AS pass_wordcount,
           CAST(sum(r_mwl) AS BIGINT) AS pass_meanwordlen,
           CAST(sum(r_alpha) AS BIGINT) AS pass_alpha,
           CAST(sum(r_stop) AS BIGINT) AS pass_stopwords,
           CAST(sum(r_rep) AS BIGINT) AS pass_repetition,
           CAST(sum(r_wc * r_mwl * r_alpha * r_stop * r_rep) AS BIGINT)
               AS pass_all
    FROM r GROUP BY lang
""")
def stream_quality_census(spark, sf_dir):
    """Streaming twin of `text_gopher_rules`: the same census computed
    by the Structured Streaming engine over a file-source replay of the
    documents table (see streaming/windows.py:run_stream_quality_census
    for the state-size argument). The batch SQL oracle checks the
    streaming engine's final complete-mode emission value-for-value."""
    from ..streaming.windows import run_stream_quality_census

    return run_stream_quality_census(spark, sf_dir)


# ---------------------------------- rendezvous-hash shard stability

@query("shard_rendezvous_stability", oracle=f"""
    WITH d AS (SELECT doc_id FROM documents),
    a AS (
        SELECT doc_id,
               {h32_sql("'mod:' || CAST(doc_id AS VARCHAR)")} AS h
        FROM d
    ),
    hrw AS (
        SELECT doc_id, n_shards,
               max({h32_sql("'hrw:' || CAST(doc_id AS VARCHAR) || ':'"
                            " || CAST(s.s AS VARCHAR)")} * 16 + s.s) % 16
                   AS shard
        FROM d, (SELECT unnest(range(0, 9)) AS s) s,
             (SELECT unnest([8, 9]) AS n_shards) ns
        WHERE s.s < n_shards
        GROUP BY doc_id, n_shards
    ),
    m AS (
        SELECT a.doc_id,
               h % 8 AS mod8, h % 9 AS mod9,
               h8.shard AS hrw8, h9.shard AS hrw9
        FROM a
        JOIN (SELECT doc_id, shard FROM hrw WHERE n_shards = 8) h8
          USING (doc_id)
        JOIN (SELECT doc_id, shard FROM hrw WHERE n_shards = 9) h9
          USING (doc_id)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN mod8 <> mod9 THEN 1 ELSE 0 END) AS BIGINT)
               AS moved_mod,
           CAST(sum(CASE WHEN hrw8 <> hrw9 THEN 1 ELSE 0 END) AS BIGINT)
               AS moved_hrw,
           round(sum(CASE WHEN mod8 <> mod9 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS frac_moved_mod,
           round(sum(CASE WHEN hrw8 <> hrw9 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS frac_moved_hrw
    FROM m
""")
def shard_rendezvous_stability(spark, sf_dir):
    """Why shard assignment must be rendezvous (HRW) hashing, measured:
    grow the shard count 8 -> 9 and count how many documents MOVE under
    (a) modulo assignment (h % N — reshuffles ~8/9 of the corpus) vs
    (b) highest-random-weight assignment (argmax over shards of
    h(doc, shard) — moves only the ~1/9 that the new shard wins). At
    100 TB the moved fraction IS the recompute/restage bill of every
    scale-out, which is why the curation pack's shard keys
    (`shard_pack`, `shuffle_epoch`) must never use modulo on a
    resizable shard count. Argmax ties fold into the max(h*16 + s) % 16
    packed key (same trick as the PQ argmin).

    Scale shape: per-row hash arithmetic (9 hashes/doc) plus one
    scalar census — embarrassingly parallel, zero shuffles beyond the
    final 1-row rollup; the HRW explode is bounded by the shard count,
    not the corpus."""
    d = T(spark, sf_dir, "documents").select("doc_id")
    h = h32(F.concat(F.lit("mod:"), F.col("doc_id").cast("string")))

    def hrw_shard(n):
        scores = [
            (h32(F.concat(F.lit("hrw:"), F.col("doc_id").cast("string"),
                          F.lit(f":{s}"))) * 16 + s)
            for s in range(n)]
        return F.greatest(*scores) % 16

    m = d.select(
        (h % 8).alias("mod8"), (h % 9).alias("mod9"),
        hrw_shard(8).alias("hrw8"), hrw_shard(9).alias("hrw9"))
    return m.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("mod8") != F.col("mod9"), 1).otherwise(0))
        .cast("bigint").alias("moved_mod"),
        F.sum(F.when(F.col("hrw8") != F.col("hrw9"), 1).otherwise(0))
        .cast("bigint").alias("moved_hrw"),
        F.round(F.sum(F.when(F.col("mod8") != F.col("mod9"), 1)
                      .otherwise(0)) * 1.0 / F.count("*"), 6)
        .alias("frac_moved_mod"),
        F.round(F.sum(F.when(F.col("hrw8") != F.col("hrw9"), 1)
                      .otherwise(0)) * 1.0 / F.count("*"), 6)
        .alias("frac_moved_hrw"))


# ------------------------------------- quality-curriculum ordering

@query("pipeline_curriculum_order", oracle=f"""
    WITH feat AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tok,
               len(list_distinct(string_split(text, ' '))) AS n_dis,
               len(list_filter(string_split(text, ' '),
                               t -> list_contains({_SW_EN_SQL}, t))) AS stop
        FROM documents
    ),
    q AS (
        SELECT doc_id, n_tok,
               CAST(round(round(least(n_tok / 20.0, 1.0)
                                * least(n_dis * 2.0 / n_tok, 1.0)
                                * least(stop * 10.0 / n_tok, 1.0), 6)
                          * 1000000) AS BIGINT) AS qm
        FROM feat
    ),
    r AS (
        SELECT doc_id, n_tok, qm,
               row_number() OVER (ORDER BY qm DESC, doc_id) AS pos,
               (SELECT count(*) FROM q) AS n
        FROM q
    )
    SELECT CAST(((pos - 1) * 10) // n AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(round(sum(qm) * 1.0 / count(*)) AS BIGINT)
               / 1000000.0 AS avg_quality
    FROM r GROUP BY 1
""")
def pipeline_curriculum_order(spark, sf_dir):
    """Quality-curriculum training order: rank the corpus by the shared
    quality score (best first, doc_id tie-break) and report the
    token/quality census per training-position decile — the ordering a
    curriculum or end-of-training annealing schedule consumes (high-
    quality data last is the common annealing recipe; this census is
    what you inspect before committing a multi-week run to it). The
    decile curve also VERIFIES the ordering: avg_quality must be
    non-increasing across deciles.

    Scale shape: quality is per-row arithmetic; the global position
    comes from `operators/ranking.distributed_rank` (range-bucketed,
    no single-partition window); the census is one 10-group
    aggregate. Positions, deciles, and quality micro-units are all
    exact integers."""
    from ..operators.ranking import distributed_rank

    d = T(spark, sf_dir, "documents")
    q = d.select(
        "doc_id", X.token_count(F.col("text")).alias("n_tok"),
        F.round(F.round(X.quality_score(F.col("text")), 6) * 1000000)
        .cast("bigint").alias("qm"))
    # rank by quality DESC via the ascending ranker on negated quality
    r = distributed_rank(q.withColumn("negq", -F.col("qm")),
                         "negq", "doc_id", rank_col="pos")
    n = q.agg(F.count("*").alias("n"))
    return (r.crossJoin(F.broadcast(n))
            .select(F.expr("CAST(((pos - 1) * 10) DIV n AS BIGINT)")
                    .alias("decile"), "n_tok", "qm")
            .groupBy("decile")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tok").alias("n_tokens"),
                 (F.round(F.sum("qm") * 1.0 / F.count("*"))
                  .cast("bigint") / 1000000.0).alias("avg_quality")))


# --------------------------- weighted sampling without replacement

@query("sample_weighted_es", oracle=f"""
    WITH u AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
               {u01_sql("'es:' || CAST(doc_id AS VARCHAR)")} AS uu
        FROM documents WHERE n_chars > 0
    ),
    k AS (
        SELECT doc_id, w,
               CAST(round(ln(uu) / w * 1000000000) AS BIGINT) AS key_nano
        FROM u
    )
    SELECT doc_id, w, key_nano
    FROM k ORDER BY key_nano DESC, doc_id LIMIT 20
""")
def sample_weighted_es(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    A-ES): each item draws key u^(1/w) (u uniform, w its weight) and
    the k largest keys are a correctly-distributed weighted sample —
    the one-pass, shuffle-light way to draw a quality- or
    length-weighted corpus subsample, completing the sampling family
    (bernoulli / reservoir / stratified / PPS-systematic are all
    UNweighted or rate-based). Ordering by u^(1/w) equals ordering by
    ln(u)/w (monotone transform, sign shared: ln(u) < 0), which is the
    numerically-stable form A-ES-max implementations use.

    Determinism: u is the md5-hash uniform ((h32+0.5)/2^32, never 0 so
    the log is finite); ln(u)/w is computed from the same exact
    (hash, weight) pair on both engines and snapped to nano-units per
    row; the top-20 is an exact TakeOrdered with doc_id tie-break.

    Scale shape: per-row hash + log arithmetic and ONE top-k — no
    shuffle at all (per-partition top-20 merge on the driver), the
    cheapest possible distributed weighted sampler."""
    d = T(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    uu = u01(F.concat(F.lit("es:"), F.col("doc_id").cast("string")))
    k = d.select(
        "doc_id", F.col("n_chars").cast("bigint").alias("w"),
        F.round(F.log(uu) / F.col("n_chars") * 1000000000)
        .cast("bigint").alias("key_nano"))
    return k.orderBy(F.col("key_nano").desc(), "doc_id").limit(20)
