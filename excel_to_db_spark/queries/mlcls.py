"""Classifier-building & paired-eval pack (round 5, batch 21):
multinomial naive Bayes train/score, decision-stump split search,
ranked-retrieval average precision, and McNemar's paired test. The
reference engine (294 LoC of Rust delegating to SQLite, reference
src/main.rs) has none of this surface; these are Tier-C mission
operators in the style of queries/evalml.py — the in-warehouse ML loop
a training-data pipeline runs without leaving the engine:

- Naive Bayes is the classic "classifier as an aggregate": the model
  IS a count table, so training is one groupBy and the model
  broadcasts back onto the scoring scan — the textbook 100 TB shape
  (tiny model, huge corpus, zero iterations).
- The information-gain split search is the inner loop of decision-tree
  induction expressed as one histogram + one cumulative window — how
  an engine finds the best filter threshold without row-level passes
  per candidate.
- Average precision is the ranking-quality integral (area under the
  precision-recall curve at positive ranks) — computed here with the
  repo's distributed rank/prefix-sum operators, never a
  single-partition window.
- McNemar's test is THE correct significance test when two models are
  evaluated on the SAME examples (paired design): only the discordant
  pairs carry information.

Determinism contract (SURVEY §4.3): model weights are snapped to
integer micro-units (round(ln(...)*1e6) BIGINT — a deterministic
function of exact integer counts) BEFORE any summation, so per-doc
scores are exact BIGINTs; every statistic downstream of a float
expression reads already-rounded inputs.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..numerics import erfc, erfc_sql, h32, h32_sql
from .registry import query
from .relational import T


# ------------------------------------- multinomial naive Bayes (lang)


@query("ml_naive_bayes", oracle=f"""
    WITH split AS (
        SELECT doc_id, lang, text,
               {h32_sql("'nb:' || CAST(doc_id AS VARCHAR)")} % 5 AS u
        FROM documents
    ),
    train_tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok
        FROM split WHERE u <> 0
    ),
    classes AS (
        SELECT lang AS cls, CAST(count(*) AS BIGINT) AS n_docs_c
        FROM split WHERE u <> 0 GROUP BY lang
    ),
    vocab AS (SELECT DISTINCT tok FROM train_tok),
    vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    tc AS (
        SELECT tok, lang AS cls, CAST(count(*) AS BIGINT) AS c
        FROM train_tok GROUP BY tok, lang
    ),
    totc AS (
        SELECT cls, CAST(sum(c) AS BIGINT) AS tot_c FROM tc GROUP BY cls
    ),
    wt AS (
        SELECT vocab.tok, classes.cls,
               CAST(round(ln((coalesce(tc.c, 0) + 1.0) / (totc.tot_c + v))
                          * 1000000) AS BIGINT) AS wt_u
        FROM vocab CROSS JOIN classes
        JOIN totc ON totc.cls = classes.cls
        CROSS JOIN vsize
        LEFT JOIN tc ON tc.tok = vocab.tok AND tc.cls = classes.cls
    ),
    prior AS (
        SELECT cls,
               CAST(round(ln(n_docs_c * 1.0 /
                             (SELECT sum(n_docs_c) FROM classes))
                          * 1000000) AS BIGINT) AS prior_u
        FROM classes
    ),
    test_tok AS (
        SELECT doc_id, lang AS actual_lang,
               unnest(string_split(text, ' ')) AS tok
        FROM split WHERE u = 0
    ),
    tok_score AS (
        SELECT doc_id, cls, CAST(sum(wt_u) AS BIGINT) AS s
        FROM test_tok JOIN wt USING (tok)
        GROUP BY doc_id, cls
    ),
    scored AS (
        SELECT d.doc_id, d.actual_lang, p.cls,
               p.prior_u + coalesce(t.s, 0) AS score_u
        FROM (SELECT DISTINCT doc_id, actual_lang FROM test_tok) d
        CROSS JOIN prior p
        LEFT JOIN tok_score t
          ON t.doc_id = d.doc_id AND t.cls = p.cls
    ),
    picked AS (
        SELECT doc_id, actual_lang, cls AS pred_lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score_u DESC, cls) AS rn
        FROM scored
    )
    SELECT actual_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM picked WHERE rn = 1
    GROUP BY actual_lang, pred_lang
    ORDER BY actual_lang, pred_lang
""")
def ml_naive_bayes(spark, sf_dir):
    """Multinomial naive Bayes (the count-based text classifier of
    McCallum & Nigam 1998) trained and scored entirely in-engine:
    predict each held-out document's language from its tokens; output
    the confusion matrix.

    Split: md5-hash lane 0 of 5 is the test fold (deterministic, the
    repo's standard h32 protocol). Model: per-(token, class) Laplace-
    smoothed log-likelihood ln((c+1)/(tot_c+V)) and per-class log-prior,
    both snapped to integer micro-units the moment they are computed —
    per-doc class scores are then exact BIGINT sums, so the argmax (and
    with it the whole confusion matrix) is order-free integer math
    (SURVEY §4.3). Tokens unseen in training are dropped (standard
    multinomial NB treatment); ties break toward the lexicographically
    first class.

    Scale shape: training is ONE groupBy over the exploded train fold
    (map-side combinable counts); the model is a V x C grid (vocab x
    classes — tiny, broadcastable no matter the corpus) built with a
    broadcast left join, so scoring is fact-stream x broadcast(model) +
    one (doc, class) reduce. The per-doc argmax partitions BY doc_id —
    never a global window. The corpus never sits on the driver; at
    100 TB the only big exchanges are the two token-stream shuffles."""
    d = T(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    u = F.pmod(h32(F.concat(F.lit("nb:"),
                            F.col("doc_id").cast("string"))), F.lit(5))
    split = d.withColumn("u", u)
    train = split.filter(F.col("u") != 0)
    test = split.filter(F.col("u") == 0)

    train_tok = train.select(
        "lang", F.explode(F.split("text", " ")).alias("tok"))
    classes = (train.groupBy(F.col("lang").alias("cls"))
               .agg(F.count("*").alias("n_docs_c")))
    vocab = train_tok.select("tok").distinct()
    vsize = vocab.agg(F.count("*").alias("v"))
    tc = (train_tok.groupBy("tok", F.col("lang").alias("cls"))
          .agg(F.count("*").alias("c")))
    totc = tc.groupBy("cls").agg(F.sum("c").alias("tot_c"))

    wt = (vocab.crossJoin(F.broadcast(classes.select("cls")))
          .join(F.broadcast(totc), "cls")
          .crossJoin(F.broadcast(vsize))
          .join(F.broadcast(tc), ["tok", "cls"], "left")
          .select("tok", "cls",
                  F.round(F.log((F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                                / (F.col("tot_c") + F.col("v")))
                          * 1000000).cast("bigint").alias("wt_u")))
    n_train = classes.agg(F.sum("n_docs_c").alias("nt"))
    prior = (classes.crossJoin(F.broadcast(n_train))
             .select("cls",
                     F.round(F.log(F.col("n_docs_c") * 1.0 / F.col("nt"))
                             * 1000000).cast("bigint").alias("prior_u")))

    test_tok = test.select(
        "doc_id", F.col("lang").alias("actual_lang"),
        F.explode(F.split("text", " ")).alias("tok"))
    tok_score = (test_tok.join(F.broadcast(wt), "tok")
                 .groupBy("doc_id", "cls")
                 .agg(F.sum("wt_u").alias("s")))
    scored = (test.select("doc_id", F.col("lang").alias("actual_lang"))
              .crossJoin(F.broadcast(prior))
              .join(tok_score, ["doc_id", "cls"], "left")
              .select("doc_id", "actual_lang", "cls",
                      (F.col("prior_u")
                       + F.coalesce(F.col("s"), F.lit(0)))
                      .alias("score_u")))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_u").desc(), F.col("cls"))
    picked = (scored.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1))
    return (picked
            .groupBy("actual_lang", F.col("cls").alias("pred_lang"))
            .agg(F.count("*").alias("n_docs"))
            .orderBy("actual_lang", "pred_lang"))


# ------------------------------- decision-stump split (information gain)

# Plain-text entropy of a (pos, n) split side, NULL-safe at the 0/n
# boundaries. Both engines evaluate the IDENTICAL expression over exact
# BIGINTs, so IEEE rounding agrees (the stats_fdr_bh precedent).
_H_SQL = ("(CASE WHEN {p} = 0 OR {p} = {n} THEN 0.0 ELSE "
          "-({p} * 1.0 / {n}) * ln({p} * 1.0 / {n}) "
          "- (({n} - {p}) * 1.0 / {n}) * ln(({n} - {p}) * 1.0 / {n}) "
          "END)")


@query("ml_split_info_gain", oracle=f"""
    WITH hist AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS pos
        FROM lineitem GROUP BY 1
    ),
    cum AS (
        SELECT q,
               CAST(sum(n) OVER (ORDER BY q) AS BIGINT) AS n_left,
               CAST(sum(pos) OVER (ORDER BY q) AS BIGINT) AS pos_left,
               CAST(sum(n) OVER () AS BIGINT) AS n_tot,
               CAST(sum(pos) OVER () AS BIGINT) AS pos_tot
        FROM hist
    ),
    gains AS (
        SELECT q AS threshold, n_left, pos_left,
               n_tot - n_left AS n_right,
               pos_tot - pos_left AS pos_right,
               round({_H_SQL.format(p='pos_tot', n='n_tot')}
                     - (n_left * {_H_SQL.format(p='pos_left', n='n_left')}
                        + (n_tot - n_left)
                          * {_H_SQL.format(p='(pos_tot - pos_left)',
                                           n='(n_tot - n_left)')})
                       / n_tot, 9) AS gain
        FROM cum WHERE n_left < n_tot
    )
    SELECT threshold, n_left, pos_left, n_right, pos_right, gain,
           row_number() OVER (ORDER BY gain DESC, threshold) = 1 AS best
    FROM gains
    ORDER BY threshold
""")
def ml_split_info_gain(spark, sf_dir):
    """Decision-stump split search (the CART/C4.5 inner loop, Quinlan
    1986): scan every candidate threshold on l_quantity and score the
    binary split against the is-returned label by information gain
    H(root) - weighted H(children).

    Scale shape: the corpus collapses FIRST to a (feature value ->
    count, positives) histogram — one map-side-combinable aggregate, 50
    rows here and bounded by the feature's cardinality always. The
    threshold scan is then two cumulative windows over that bounded
    histogram (never the fact table), which is why a tree library on a
    cluster evaluates thousands of candidate splits per pass: each is
    a row of this table, not a data scan. Entropies are the identical
    plain-text expression over exact BIGINT counts on both engines
    (the stats_fdr_bh libm precedent), snapped once to 9 dp; the best
    flag breaks gain ties toward the smallest threshold."""
    li = T(spark, sf_dir, "lineitem").select("l_quantity", "l_returnflag")
    hist = (li.groupBy(F.col("l_quantity").cast("bigint").alias("q"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("l_returnflag") == "R", 1)
                       .otherwise(0)).alias("pos")))

    # windows over the 50-row histogram (bounded by feature cardinality,
    # not the corpus) — the single-partition exemption for aggregated
    # tables, same as privacy_cell_suppression
    w_cum = Window.orderBy("q").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    cum = hist.select(
        "q",
        F.sum("n").over(w_cum).alias("n_left"),
        F.sum("pos").over(w_cum).alias("pos_left"),
        F.sum("n").over(w_all).alias("n_tot"),
        F.sum("pos").over(w_all).alias("pos_tot"))

    def H(p, n):
        p1 = p * 1.0 / n
        p0 = (n - p) * 1.0 / n
        return (F.when((p == 0) | (p == n), F.lit(0.0))
                .otherwise(-p1 * F.log(p1) - p0 * F.log(p0)))

    nl, pl = F.col("n_left"), F.col("pos_left")
    nt, pt = F.col("n_tot"), F.col("pos_tot")
    gain = F.round(
        H(pt, nt) - (nl * H(pl, nl) + (nt - nl) * H(pt - pl, nt - nl))
        / nt, 9)
    gains = (cum.filter(nl < nt)
             .select(F.col("q").alias("threshold"),
                     "n_left", "pos_left",
                     (nt - nl).alias("n_right"),
                     (pt - pl).alias("pos_right"),
                     gain.alias("gain")))
    w_best = Window.orderBy(F.col("gain").desc(), F.col("threshold"))
    return (gains
            .withColumn("best", F.row_number().over(w_best) == 1)
            .orderBy("threshold"))


# ----------------------------------- average precision (PR-curve area)


@query("eval_avg_precision", oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
               {h32_sql("'ap:' || CAST(doc_id AS VARCHAR)")} % 1000
               + CASE WHEN lang = 'en' THEN 300 ELSE 0 END AS s
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, label, s,
               CAST(row_number() OVER (ORDER BY s DESC, doc_id)
                    AS BIGINT) AS rk,
               CAST(sum(label) OVER (ORDER BY s DESC, doc_id
                                     ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum_pos
        FROM scored
    ),
    terms AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(label) AS BIGINT) AS n_pos,
               CAST(sum(CASE WHEN label = 1 THEN
                        CAST(round(cum_pos * 1e6 / rk) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS ap_num,
               CAST(max(CASE WHEN rk = 20 THEN cum_pos END)
                    AS BIGINT) AS pos_at_20
        FROM ranked
    )
    SELECT n_docs, n_pos,
           round(ap_num / (1e6 * n_pos), 6) AS avg_precision,
           round(pos_at_20 / 20.0, 6) AS p_at_20
    FROM terms
""")
def eval_avg_precision(spark, sf_dir):
    """Average precision (the area under the precision-recall curve
    sampled at positive ranks — the `AP` of IR and detection
    benchmarks): AP = (1/P) * sum over positives of precision@rank.

    The audited scorer is deterministic (md5-derived score with a +300
    bump for the is-English label, so the ranking is discriminative but
    exactly reproducible). Rank and cumulative-positive counts come
    from the repo's distributed_rank + distributed_prefix_sum operators
    (two-phase range-bucketed windows, `operators/ranking.py`) — at
    100 TB the global ordering never collapses to a single partition,
    which is THE failure mode of naive AP implementations on big
    corpora. Each precision term cum_pos/rank is an exact-integer ratio
    snapped to micro-units per row, so the AP numerator is an exact
    BIGINT sum (SURVEY §4.3) and P@20 falls out of the same pass."""
    from ..operators.ranking import (distributed_prefix_sum,
                                     distributed_rank)
    d = T(spark, sf_dir, "documents").select("doc_id", "lang")
    label = F.when(F.col("lang") == "en", 1).otherwise(0)
    s = (F.pmod(h32(F.concat(F.lit("ap:"),
                             F.col("doc_id").cast("string"))),
                F.lit(1000))
         + F.when(F.col("lang") == "en", 300).otherwise(0))
    scored = d.select("doc_id", label.alias("label"),
                      s.alias("s"), (-s).alias("neg_s"))
    ranked = distributed_rank(scored, "neg_s", "doc_id", rank_col="rk")
    pre = distributed_prefix_sum(ranked, "rk", "label",
                                 out_col="cum_excl")
    cum = pre.withColumn("cum_pos", F.col("cum_excl") + F.col("label"))
    terms = cum.agg(
        F.count("*").alias("n_docs"),
        F.sum("label").alias("n_pos"),
        F.sum(F.when(F.col("label") == 1,
                     F.round(F.col("cum_pos") * 1e6 / F.col("rk"))
                     .cast("bigint")).otherwise(0)).alias("ap_num"),
        F.max(F.when(F.col("rk") == 20, F.col("cum_pos")))
         .alias("pos_at_20"))
    return terms.select(
        "n_docs", "n_pos",
        F.round(F.col("ap_num") / (1e6 * F.col("n_pos")), 6)
         .alias("avg_precision"),
        F.round(F.col("pos_at_20") / 20.0, 6).alias("p_at_20"))


# ------------------------------------------------ McNemar paired test


@query("stats_mcnemar", oracle=f"""
    WITH rated AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lab,
               CASE WHEN length(text) - length(replace(text, 'e', ''))
                    >= 30 THEN 1 ELSE 0 END AS pa,
               CASE WHEN position(' the ' IN text) > 0 THEN 1 ELSE 0 END
                   AS pb
        FROM documents
    ),
    cells AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN pa = lab THEN 1 ELSE 0 END) AS BIGINT)
                   AS correct_a,
               CAST(sum(CASE WHEN pb = lab THEN 1 ELSE 0 END) AS BIGINT)
                   AS correct_b,
               CAST(sum(CASE WHEN pa = lab AND pb <> lab THEN 1 ELSE 0
                        END) AS BIGINT) AS b01,
               CAST(sum(CASE WHEN pa <> lab AND pb = lab THEN 1 ELSE 0
                        END) AS BIGINT) AS b10
        FROM rated
    ),
    stat AS (
        SELECT n, correct_a, correct_b, b01, b10,
               round((abs(b01 - b10) - 1.0) * (abs(b01 - b10) - 1.0)
                     / (b01 + b10), 6) AS chi2
        FROM cells
    )
    SELECT n, correct_a, correct_b, b01, b10,
           round(correct_a * 1.0 / n, 6) AS acc_a,
           round(correct_b * 1.0 / n, 6) AS acc_b,
           chi2,
           round({erfc_sql('sqrt(chi2 / 2.0)')}, 8) AS p_value
    FROM stat
""")
def stats_mcnemar(spark, sf_dir):
    """McNemar's test with continuity correction (McNemar 1947): are
    two classifiers evaluated on the SAME documents significantly
    different? Only the discordant pairs matter: chi2 =
    (|b01 - b10| - 1)^2 / (b01 + b10), 1 df.

    The two models are deterministic English detectors (the 'e'-count
    gate and a ' the '-substring gate) against the lang label — the
    paired-eval shape of every A/B model comparison on a shared eval
    set, where the unpaired two-proportion z-test would be wrong
    (it ignores that both models see the same examples). The p-value
    is the 1-df chi-square survival function erfc(sqrt(x/2)) via the
    Abramowitz-Stegun 7.1.26 polynomial — the SAME explicit arithmetic
    on both engines, snapped to 8 dp (the stats_fdr_bh protocol).

    Scale shape: ONE map-side-combinable conditional-count aggregate —
    100 TB of paired predictions reduce to five integers before any
    float math touches them (SURVEY §4.3)."""
    d = T(spark, sf_dir, "documents")
    lab = F.when(F.col("lang") == "en", 1).otherwise(0)
    pa = F.when(
        F.length("text") - F.length(F.regexp_replace("text", "e", ""))
        >= 30, 1).otherwise(0)
    pb = F.when(F.instr(F.col("text"), " the ") > 0, 1).otherwise(0)
    cells = (d.select(lab.alias("lab"), pa.alias("pa"), pb.alias("pb"))
             .agg(F.count("*").alias("n"),
                  F.sum(F.when(F.col("pa") == F.col("lab"), 1)
                        .otherwise(0)).alias("correct_a"),
                  F.sum(F.when(F.col("pb") == F.col("lab"), 1)
                        .otherwise(0)).alias("correct_b"),
                  F.sum(F.when((F.col("pa") == F.col("lab"))
                               & (F.col("pb") != F.col("lab")), 1)
                        .otherwise(0)).alias("b01"),
                  F.sum(F.when((F.col("pa") != F.col("lab"))
                               & (F.col("pb") == F.col("lab")), 1)
                        .otherwise(0)).alias("b10")))
    dd = F.abs(F.col("b01") - F.col("b10"))
    stat = cells.withColumn(
        "chi2", F.round((dd - 1.0) * (dd - 1.0)
                        / (F.col("b01") + F.col("b10")), 6))
    z = F.sqrt(F.col("chi2") / 2.0)
    return stat.select(
        "n", "correct_a", "correct_b", "b01", "b10",
        F.round(F.col("correct_a") * 1.0 / F.col("n"), 6).alias("acc_a"),
        F.round(F.col("correct_b") * 1.0 / F.col("n"), 6).alias("acc_b"),
        "chi2",
        F.round(erfc(z), 8).alias("p_value"))
