"""Learning-curve / burstiness / coverage / reliability pack (round
5, batch 54). The reference engine (294 LoC of Rust delegating to
SQLite, reference src/main.rs) has none of this surface; these are
Tier-C mission operators:

- Learning curve (the ML-ops budget question): train the depth-1
  stump on hash-subsamples of 10% / 30% / 100% and report holdout-
  style accuracy per fraction — flat curve means more data stopped
  helping, rising means collect more.
- Goh-Barabasi burstiness B = (sigma - mu)/(sigma + mu) of
  inter-arrival times (Goh & Barabasi 2008): -1 = metronome, 0 =
  Poisson, +1 = extreme bursts — the one-number temporal fingerprint
  per stream (the events_fano_curve's per-scale view collapsed).
- Top-k token coverage: what share of the token mass the top
  10/100/1000 words cover — the curve that sizes every vocabulary,
  cache, and hot-shard plan.
- MTBF / MTTR (the SRE canon): sessionize error events into bursts
  (5-minute gap rule), then mean time BETWEEN bursts and mean burst
  duration — availability's two denominators.

Determinism contract (SURVEY §4.3): subsample membership is h32
md5; split scores order on fixed expressions of exact counts;
inter-arrival moments are exact integer power sums; coverage uses
exact (count DESC, word) ranks; burst boundaries are exact integer
gap comparisons."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import comoment, comoment_sql, h32, h32_sql, wide, wide_sql


# --------------------------------------------------- learning curve

@query("ml_learning_curve", oracle=f"""
    WITH base AS (
        SELECT CAST(round(value * 100) AS BIGINT) // 1000 AS b,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS y,
               ({h32_sql("CAST(event_id AS VARCHAR)")})
                   % 100 AS h
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    fr AS (SELECT unnest([10, 30, 100]) AS pct),
    hist AS (
        SELECT fr.pct, b,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(y) AS BIGINT) AS pos
        FROM base JOIN fr ON base.h < fr.pct
        GROUP BY 1, 2
    ),
    split AS (
        SELECT pct, thr FROM (
            SELECT pct, b AS thr,
                   CAST(pl AS DOUBLE) * pl / cl
                   + CAST(pt - pl AS DOUBLE) * (pt - pl) / (ct - cl)
                       AS score,
                   row_number() OVER (PARTITION BY pct
                       ORDER BY CAST(pl AS DOUBLE) * pl / cl
                                + CAST(pt - pl AS DOUBLE) * (pt - pl)
                                  / (ct - cl) DESC, b ASC) AS rk
            FROM (
                SELECT pct, b,
                       CAST(sum(cnt) OVER (PARTITION BY pct ORDER BY b
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cl,
                       CAST(sum(pos) OVER (PARTITION BY pct ORDER BY b
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pl,
                       CAST(sum(cnt) OVER (PARTITION BY pct)
                            AS BIGINT) AS ct,
                       CAST(sum(pos) OVER (PARTITION BY pct)
                            AS BIGINT) AS pt
                FROM hist
            ) WHERE cl < ct
        ) WHERE rk = 1
    ),
    eval_ AS (
        -- score every training split on the FULL corpus
        SELECT split.pct, split.thr,
               CAST(sum(CASE WHEN base.b <= split.thr THEN 1 - base.y
                        ELSE base.y END) AS BIGINT) AS correct,
               CAST(count(*) AS BIGINT) AS total
        FROM base CROSS JOIN split
        GROUP BY 1, 2
    )
    SELECT CAST(pct AS BIGINT) AS train_pct, thr AS threshold,
           round(CAST(correct AS DOUBLE) / total, 6) AS full_accuracy
    FROM eval_ ORDER BY train_pct
""")
def ml_learning_curve(spark, sf_dir):
    """Learning curve for the purchase-vs-view value stump: train the
    depth-1 split on deterministic h32 subsamples of 10% / 30% / 100%
    of the corpus, then score EVERY variant on the full corpus — the
    budget readout that answers "would more data improve this
    model?" before anyone pays for more data (a flat curve at 10% is
    license to downsample the training pipeline 10x). The stump
    predicts the majority class per side (here: view below the
    threshold, purchase above — the orientation the score picks on
    this corpus).

    Subsample membership is the repo's h32 md5 hash (nested samples:
    the 10% set is a subset of the 30% set — the proper curve
    design); per-fraction splits use the exact-count Gini-equivalent
    score with smallest-threshold ties (the ml_tree_depth2
    machinery, partitioned by fraction in ONE window pass).

    Scale shape: one (fraction, bucket) histogram + per-fraction
    ranked splits + one full-corpus conditional rescore."""
    base = (T(spark, sf_dir, "events")
            .filter(F.col("event_type").isin("purchase", "view"))
            .select(F.expr("CAST(round(value * 100) AS BIGINT)"
                           " DIV 1000").alias("b"),
                    F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0).alias("y"),
                    F.pmod(h32(F.col("event_id").cast("string")), 100)
                    .alias("h")))
    fr = spark.range(3).select(
        F.element_at(F.array(F.lit(10), F.lit(30), F.lit(100)),
                     (F.col("id") + 1).cast("int")).alias("pct"))
    hist = (base.crossJoin(F.broadcast(fr))
            .filter(F.col("h") < F.col("pct"))
            .groupBy("pct", "b")
            .agg(F.count("*").alias("cnt"), F.sum("y").alias("pos")))
    wc = Window.partitionBy("pct").orderBy("b").rowsBetween(
        Window.unboundedPreceding, 0)
    wt = Window.partitionBy("pct")
    cum = hist.select(
        "pct", "b",
        F.sum("cnt").over(wc).alias("cl"),
        F.sum("pos").over(wc).alias("pl"),
        F.sum("cnt").over(wt).alias("ct"),
        F.sum("pos").over(wt).alias("pt"))
    score = (F.col("pl").cast("double") * F.col("pl") / F.col("cl")
             + (F.col("pt") - F.col("pl")).cast("double")
             * (F.col("pt") - F.col("pl"))
             / (F.col("ct") - F.col("cl")))
    split = (cum.filter(F.col("cl") < F.col("ct"))
             .select("pct", F.col("b").alias("thr"),
                     F.row_number().over(
                         Window.partitionBy("pct")
                         .orderBy(score.desc(), F.col("b").asc()))
                     .alias("rk"))
             .filter(F.col("rk") == 1).select("pct", "thr"))
    ev = (base.crossJoin(F.broadcast(split))
          .groupBy("pct", "thr")
          .agg(F.sum(F.when(F.col("b") <= F.col("thr"),
                            1 - F.col("y")).otherwise(F.col("y")))
               .alias("correct"),
               F.count("*").alias("total")))
    return (ev.select(F.col("pct").cast("bigint").alias("train_pct"),
                      F.col("thr").alias("threshold"),
                      F.round(F.col("correct").cast("double")
                              / F.col("total"), 6)
                      .alias("full_accuracy"))
            .orderBy("train_pct"))


# ------------------------------------------- Goh-Barabasi burstiness

_VAR_N2 = comoment_sql("n", "q", "s", "s")     # n^2 * variance, exact


@query("events_burstiness_gb", oracle=f"""
    WITH seq AS (
        SELECT event_type AS stream,
               CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT))
                 OVER (PARTITION BY event_type ORDER BY ts, event_id)
                   AS gap
        FROM events
    ),
    st AS (
        SELECT stream,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(gap) AS BIGINT) AS s,
               sum({wide_sql('gap')} * gap) AS q
        FROM seq WHERE gap IS NOT NULL GROUP BY stream
    )
    SELECT stream, n,
           round(CAST(s AS DOUBLE) / n, 2) AS mean_gap_s,
           round((sqrt(CAST({_VAR_N2} AS DOUBLE)) / n - CAST(s AS DOUBLE) / n)
                 / (sqrt(CAST({_VAR_N2} AS DOUBLE)) / n
                    + CAST(s AS DOUBLE) / n), 6) AS burstiness_b
    FROM st ORDER BY stream
""")
def events_burstiness_gb(spark, sf_dir):
    """Goh-Barabasi burstiness per event stream (Goh & Barabasi
    2008): B = (sigma - mu)/(sigma + mu) over inter-arrival seconds —
    the bounded one-number temporal fingerprint (-1 metronome, 0
    Poisson, +1 extreme bursts) that the multi-scale
    events_fano_curve expands and this key collapses. Complements
    text_burstiness (word-level Church-Gale) on the time axis.

    Gap seconds are exact integers off the per-stream lag window;
    sigma enters in its exact n-multiplied form sqrt(n*q - s^2)/n;
    B is a fixed IEEE expression over three exact integers.

    Scale shape: one per-stream lag window (partitioned) + ONE
    aggregate to 5 rows."""
    seq = T(spark, sf_dir, "events").select(
        F.col("event_type").alias("stream"),
        F.unix_timestamp("ts").alias("s0"),
        F.col("ts"), F.col("event_id"))
    w = Window.partitionBy("stream").orderBy("ts", "event_id")
    gaps = (seq.select("stream",
                       (F.col("s0") - F.lag("s0").over(w)).alias("gap"))
            .filter(F.col("gap").isNotNull()))
    st = gaps.groupBy("stream").agg(
        F.count("*").alias("n"),
        F.sum("gap").alias("s"),
        F.sum(wide("gap") * F.col("gap")).alias("q"))
    sig = (F.sqrt(comoment("n", "q", "s", "s").cast("double"))
           / F.col("n"))
    mu = F.col("s").cast("double") / F.col("n")
    return (st.select("stream", "n",
                      F.round(mu, 2).alias("mean_gap_s"),
                      F.round((sig - mu) / (sig + mu), 6)
                      .alias("burstiness_b"))
            .orderBy("stream"))


# ------------------------------------------------ top-k coverage

@query("text_topk_coverage", oracle="""
    WITH tf AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ) GROUP BY w
    ),
    ranked AS (
        SELECT c, CAST(row_number() OVER (ORDER BY c DESC, w)
                       AS BIGINT) AS rk
        FROM tf
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS vocab
            FROM ranked),
    ks AS (SELECT unnest([10, 100, 1000]) AS k)
    SELECT CAST(ks.k AS BIGINT) AS k,
           CAST(least(ks.k, tot.vocab) AS BIGINT) AS n_types,
           round(CAST(sum(CASE WHEN ranked.rk <= ks.k THEN ranked.c
                          ELSE 0 END) AS DOUBLE) / max(tot.total), 6)
               AS coverage
    FROM ranked CROSS JOIN ks CROSS JOIN tot
    GROUP BY ks.k, tot.vocab
    ORDER BY k
""")
def text_topk_coverage(spark, sf_dir):
    """Top-k token coverage curve: the share of the corpus token mass
    the 10 / 100 / 1000 most frequent words cover — the sizing curve
    behind every vocabulary cutoff, embedding-cache budget, and
    hot-key shard plan (the CDF view of the text_zipf_fit law: Zipf
    says HOW coverage grows; this measures it). n_types reports the
    clamp when the vocabulary is smaller than k (this corpus's
    closed 31-word vocabulary saturates at k = 100 — visible, not
    hidden).

    Word ranks are unique by (count DESC, word); coverage is an
    exact-integer conditional-sum ratio per k.

    Scale shape: one word aggregate + one rank pass + a 3-k grid —
    coverage at any k list costs one aggregate."""
    tf = (T(spark, sf_dir, "documents")
          .select(F.explode(F.split(F.col("text"), " ")).alias("w"))
          .groupBy("w").agg(F.count("*").alias("c")))
    ranked = tf.select(
        "c",
        F.row_number().over(Window.orderBy(F.col("c").desc(), "w"))
        .cast("bigint").alias("rk"))
    tot = ranked.agg(F.sum("c").alias("total"),
                     F.count("*").alias("vocab"))
    ks = spark.range(3).select(
        F.element_at(F.array(F.lit(10), F.lit(100), F.lit(1000)),
                     (F.col("id") + 1).cast("int")).alias("k"))
    j = ranked.crossJoin(F.broadcast(ks)).crossJoin(F.broadcast(tot))
    return (j.groupBy("k", "vocab")
            .agg(F.sum(F.when(F.col("rk") <= F.col("k"), F.col("c"))
                       .otherwise(0)).alias("cov_c"),
                 F.max("total").alias("total"))
            .select(F.col("k").cast("bigint").alias("k"),
                    F.least(F.col("k"), F.col("vocab")).cast("bigint")
                    .alias("n_types"),
                    F.round(F.col("cov_c").cast("double")
                            / F.col("total"), 6).alias("coverage"))
            .orderBy("k"))


# ------------------------------------------------ MTBF / MTTR

@query("ops_mtbf_mttr", oracle="""
    WITH err AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) AS s,
               CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                         - lag(CAST(floor(epoch(ts)) AS BIGINT))
                           OVER (ORDER BY ts, event_id) > 300
                      OR lag(ts) OVER (ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_burst
        FROM events WHERE event_type = 'error'
    ),
    bursts AS (
        SELECT CAST(sum(new_burst) OVER (ORDER BY s
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS burst_id,
               s
        FROM err
    ),
    spans AS (
        SELECT burst_id,
               CAST(min(s) AS BIGINT) AS t0,
               CAST(max(s) AS BIGINT) AS t1,
               CAST(count(*) AS BIGINT) AS n_events
        FROM bursts GROUP BY burst_id
    ),
    gaps AS (
        SELECT t0 - lag(t1) OVER (ORDER BY burst_id) AS tbf
        FROM spans
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM spans) AS n_bursts,
           (SELECT round(avg(CAST(t1 - t0 AS DOUBLE)), 2) FROM spans)
               AS mttr_s,
           round(avg(CAST(tbf AS DOUBLE)), 2) AS mtbf_s
    FROM gaps WHERE tbf IS NOT NULL
""")
def ops_mtbf_mttr(spark, sf_dir):
    """MTBF / MTTR from the error stream: sessionize errors into
    bursts with a 5-minute quiet-gap rule (the events_session
    machinery pointed at incidents), then report the mean burst
    duration (MTTR — how long incidents run) and the mean quiet time
    between bursts (MTBF — how often they start). The two
    denominators of every availability number: availability =
    MTBF/(MTBF+MTTR).

    Burst boundaries are exact integer gap comparisons (> 300 s) in
    pinned (ts, event_id) order; burst ids are a running sum of the
    boundary flags; spans and gaps are exact integer seconds; the
    two means are exact-sum ratios. avg() over exact integers is
    deterministic on both engines (sum is exact; one division).

    Scale shape: one ordered lag window + running-sum window + burst
    aggregate + one lag over the bounded burst table."""
    err = (T(spark, sf_dir, "events")
           .filter(F.col("event_type") == "error")
           .select(F.unix_timestamp("ts").alias("s"),
                   F.col("ts"), F.col("event_id")))
    w = Window.orderBy("ts", "event_id")
    flagged = err.select(
        "s",
        F.when((F.col("s") - F.lag("s").over(w) > 300)
               | F.lag("s").over(w).isNull(), 1).otherwise(0)
        .alias("new_burst"))
    wrun = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    bursts = flagged.select(
        F.sum("new_burst").over(wrun).alias("burst_id"), "s")
    spans = bursts.groupBy("burst_id").agg(
        F.min("s").alias("t0"), F.max("s").alias("t1"),
        F.count("*").alias("n_events"))
    wb = Window.orderBy("burst_id")
    gaps = (spans.select(
        (F.col("t0") - F.lag("t1").over(wb)).alias("tbf"))
        .filter(F.col("tbf").isNotNull()))
    nb = spans.agg(F.count("*").alias("n_bursts"))
    mttr = spans.agg(
        F.round(F.avg((F.col("t1") - F.col("t0")).cast("double")), 2)
        .alias("mttr_s"))
    return (gaps.agg(F.round(F.avg(F.col("tbf").cast("double")), 2)
                     .alias("mtbf_s"))
            .crossJoin(F.broadcast(nb))
            .crossJoin(F.broadcast(mttr))
            .select("n_bursts", "mttr_s", "mtbf_s"))
