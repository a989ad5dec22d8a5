"""Stylometry / ordered-trend / reliability-fit pack (round 5, batch
59): Burrows' Delta, Page's L trend test, a closed-form Weibull fit,
and Heaps' vocabulary-growth law. The reference engine (294 LoC of
Rust delegating to SQLite, reference src/main.rs) has none of this
surface; these are Tier-C mission operators:

- Burrows' Delta (Burrows 2002): the stylometric distance — mean
  |z-score difference| over the most frequent words — that
  attributes authorship and, in a data pipeline, fingerprints which
  sources share a generator (keyness says WHICH words differ; Delta
  says HOW FAR apart two sources' whole profiles sit).
- Page's L (Page 1963): the trend test for ORDERED repeated
  measures — do users' weekly activities rank monotonically across
  the month's four weeks? (Friedman asks "any difference"; Page asks
  "this ordering".)
- Weibull fit by the Menon log-moment estimator (Menon 1963):
  shape k = pi/(sigma_lnX * sqrt(6)), scale = exp(mean_lnX +
  gamma/k) — closed form, no iteration; k < 1 means bursty
  (decreasing hazard) arrivals, k = 1 is exponential/Poisson. The
  third extreme-value family member beside the repo's Gumbel and
  Hill keys.
- Heaps' law (Heaps 1978): V(n) ~ K n^beta vocabulary growth,
  fitted over 10 corpus prefixes via first-occurrence ranks — the
  growth exponent that, with Zipf (text_zipf_fit), pins the corpus'
  lexical dynamics.

Determinism contract (SURVEY §4.3): word frequencies, within-user
week ranks, first-occurrence ranks, and checkpoint counts are exact
integers; z-scores/log-moments snap to fixed-point before unordered
sums; the Heaps OLS runs on 1e6-snapped log-log points."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import comoment, comoment_sql, units_sum_sql, wide, wide_sql


# ------------------------------------------------ Burrows' Delta

@query("text_burrows_delta", oracle=f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    src_tot AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_tok FROM tok
        GROUP BY source
    ),
    topw AS (
        SELECT w FROM (
            SELECT w, count(*) AS c,
                   row_number() OVER (ORDER BY count(*) DESC, w) AS rk
            FROM tok GROUP BY w
        ) WHERE rk <= 10
    ),
    freq AS (
        SELECT t.source, t.w,
               CAST(round(CAST(count(*) AS DOUBLE) * 1e6
                          / max(st.n_tok)) AS BIGINT) AS f_ppm
        FROM tok t
        JOIN topw ON t.w = topw.w
        JOIN src_tot st ON st.source = t.source
        GROUP BY t.source, t.w
    ),
    wstats AS (
        SELECT w,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(f_ppm) AS BIGINT) AS s,
               sum({wide_sql('f_ppm')} * f_ppm) AS q
        FROM freq GROUP BY w
    ),
    z AS (
        SELECT freq.source, freq.w,
               CAST(round((freq.f_ppm - CAST(ws.s AS DOUBLE) / ws.k)
                    / (sqrt(CAST({comoment_sql('ws.k', 'ws.q', 'ws.s', 'ws.s')}
                                 AS DOUBLE)) / ws.k)
                    * 1e6) AS BIGINT) AS z_u
        FROM freq JOIN wstats ws ON freq.w = ws.w
    ),
    pairs AS (
        SELECT b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(abs(a.z_u - b.z_u)) AS BIGINT) AS d_u
        FROM (SELECT * FROM z WHERE source = 'src0') a
        JOIN z b ON b.w = a.w AND b.source <> 'src0'
        GROUP BY b.source
    )
    SELECT source_b, n_words,
           round(d_u / (n_words * 1e6), 6) AS burrows_delta
    FROM pairs ORDER BY source_b
""")
def text_burrows_delta(spark, sf_dir):
    """Burrows' Delta from src0 to every other source (Burrows 2002):
    per-source relative frequencies (ppm) of the corpus' 10 most
    frequent words, z-scored ACROSS sources per word, Delta = mean
    |z_src0 - z_other| — the stylometric whole-profile distance that
    attributes authorship in the humanities and, here, fingerprints
    which sources share a text generator (a near-zero Delta pair is
    template duplication the gram-level dedup keys confirm).
    Complements text_keyness_llr (per-word attribution) and
    text_rank_turbulence (rank diff) with the PROFILE-distance view.

    Frequencies snap to ppm integers; per-word cross-source mean/std
    use exact n-multiplied forms over the snapped ppm values;
    z-scores snap at 1e6 so the per-pair |z| sums are exact BIGINTs.
    Function words (the top-10 here: the closed corpus vocabulary's
    head) are the Burrows convention — style lives in function-word
    rates.

    Scale shape: one token histogram + a 10-word broadcast + a
    (source, word) grid of 200 cells; the pair table is
    broadcast-sized."""
    tok = (T(spark, sf_dir, "documents")
           .select("source",
                   F.explode(F.split(F.col("text"), " ")).alias("w")))
    src_tot = tok.groupBy("source").agg(F.count("*").alias("n_tok"))
    topw = (tok.groupBy("w").agg(F.count("*").alias("c"))
            .select("w", F.row_number().over(
                Window.orderBy(F.col("c").desc(), "w")).alias("rk"))
            .filter(F.col("rk") <= 10).select("w"))
    freq = (tok.join(F.broadcast(topw), "w")
            .groupBy("source", "w").agg(F.count("*").alias("c"))
            .join(src_tot, "source")
            .select("source", "w",
                    F.round(F.col("c").cast("double") * 1e6
                            / F.col("n_tok")).cast("bigint")
                    .alias("f_ppm")))
    wstats = freq.groupBy("w").agg(
        F.count("*").alias("k"),
        F.sum("f_ppm").alias("s"),
        F.sum(wide("f_ppm") * F.col("f_ppm")).alias("q"))
    z = (freq.join(wstats, "w")
         .select("source", "w",
                 F.round((F.col("f_ppm")
                          - F.col("s").cast("double") / F.col("k"))
                         / (F.sqrt(comoment("k", "q", "s", "s").cast("double"))
                            / F.col("k")) * 1e6).cast("bigint")
                 .alias("z_u")))
    a = (z.filter(F.col("source") == "src0")
         .select(F.col("w").alias("wa"), F.col("z_u").alias("za")))
    b = z.filter(F.col("source") != "src0")
    pairs = (b.join(F.broadcast(a), b.w == F.col("wa"))
             .groupBy(F.col("source").alias("source_b"))
             .agg(F.count("*").alias("n_words"),
                  F.sum(F.abs(F.col("za") - F.col("z_u")))
                  .alias("d_u")))
    return (pairs.select(
        "source_b", "n_words",
        F.round(F.col("d_u") / (F.col("n_words") * 1e6), 6)
        .alias("burrows_delta"))
        .orderBy("source_b"))


# --------------------------------------------------- Page's L trend

@query("stats_page_trend", oracle="""
    WITH wk AS (
        SELECT user_id,
               least(3, CAST(date_diff('day', DATE '2024-01-01',
                             CAST(ts AS DATE)) AS BIGINT) // 7)
                   AS week,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    complete AS (
        SELECT user_id FROM wk GROUP BY user_id
        HAVING count(*) = 4
    ),
    ranked AS (
        SELECT wk.user_id, wk.week,
               CAST(rank() OVER (PARTITION BY wk.user_id
                    ORDER BY wk.c, wk.week) AS BIGINT) AS r
        FROM wk JOIN complete ON wk.user_id = complete.user_id
    ),
    rsum AS (
        SELECT week, CAST(sum(r) AS BIGINT) AS rj
        FROM ranked GROUP BY week
    ),
    st AS (
        SELECT CAST(sum((week + 1) * rj) AS BIGINT) AS l_stat,
               (SELECT CAST(count(*) AS BIGINT) FROM complete) AS n
        FROM rsum
    )
    SELECT n, l_stat,
           round(CAST(n AS DOUBLE) * 4 * 5 * 5 / 4.0, 1)
               AS l_expected,
           round((l_stat - CAST(n AS DOUBLE) * 4 * 5 * 5 / 4.0)
                 / sqrt(CAST(n AS DOUBLE) * 4 * 4 * (4 + 1)
                        * (4 * 4 - 1) / 144.0), 5) AS z
    FROM st
""")
def stats_page_trend(spark, sf_dir):
    """Page's L test for an ORDERED alternative (Page 1963): within
    each user, rank the four calendar weeks by activity count; L =
    sum_j j * R_j weights week-j rank sums by the hypothesized order
    — significant z means activity trends monotonically across the
    month, the question the unordered Friedman test
    (stats_friedman) cannot pose. Week ranks break count ties by
    week index (the deterministic-tie rule); only users active in
    ALL four weeks enter (complete blocks, the Friedman/Cochran
    requirement).

    E[L] = n*k*(k+1)^2/4 and Var[L] = n*k^2*(k+1)*(k^2-1)/144 at
    k = 4 are exact closed forms; rank sums are exact integers; z is
    one fixed expression. Days 28+ fold into week 3 (least(3, ...) —
    the 30-day window has a 2-day stub).

    Scale shape: one (user, week) count aggregate + per-user rank
    windows (partitioned) + a 4-row reduce."""
    wk = (T(spark, sf_dir, "events")
          .groupBy("user_id",
                   F.least(F.lit(3),
                           F.expr("CAST(datediff(CAST(ts AS DATE),"
                                  " DATE '2024-01-01') AS BIGINT)"
                                  " DIV 7")).alias("week"))
          .agg(F.count("*").alias("c")))
    complete = (wk.groupBy("user_id").agg(F.count("*").alias("nw"))
                .filter(F.col("nw") == 4).select("user_id"))
    ranked = (wk.join(complete, "user_id")
              .select("user_id", "week",
                      F.rank().over(Window.partitionBy("user_id")
                                    .orderBy("c", "week"))
                      .cast("bigint").alias("r")))
    rsum = ranked.groupBy("week").agg(F.sum("r").alias("rj"))
    n = complete.agg(F.count("*").alias("n"))
    st = (rsum.agg(F.sum((F.col("week") + 1) * F.col("rj"))
                   .alias("l_stat"))
          .crossJoin(F.broadcast(n)))
    el = F.col("n").cast("double") * 4 * 5 * 5 / 4.0
    vl = F.col("n").cast("double") * 4 * 4 * (4 + 1) * (4 * 4 - 1) \
        / 144.0
    return st.select(
        "n", "l_stat",
        F.round(el, 1).alias("l_expected"),
        F.round((F.col("l_stat") - el) / F.sqrt(vl), 5).alias("z"))


# ---------------------------------------------- Weibull Menon fit

_LN_GAP_U = "CAST(round(ln(CAST(gap AS DOUBLE)) * 1e6) AS BIGINT)"


@query("stats_weibull_fit", oracle=f"""
    WITH gaps AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT))
                 OVER (PARTITION BY event_type ORDER BY ts, event_id)
                   AS gap
        FROM events WHERE event_type = 'purchase'
    ),
    lm AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {units_sum_sql('ln(CAST(gap AS DOUBLE))', 1e6)} AS sl,
               sum({wide_sql(_LN_GAP_U)} * {_LN_GAP_U}) AS ql
        FROM gaps WHERE gap IS NOT NULL AND gap > 0
    ),
    fit AS (
        SELECT n,
               3.141592653589793
               / (sqrt(CAST({comoment_sql('n', 'ql', 'sl', 'sl')} AS DOUBLE))
                  / n / 1e6
                  * sqrt(6.0)) AS k_shape,
               CAST(sl AS DOUBLE) / n / 1e6 AS mean_ln
        FROM lm
    )
    SELECT n,
           round(k_shape, 4) AS shape_k,
           round(exp(mean_ln + 0.5772156649015329 / k_shape), 2)
               AS scale_s,
           CASE WHEN round(k_shape, 4) < 1.0 THEN 'bursty'
                WHEN round(k_shape, 4) > 1.0 THEN 'regular'
                ELSE 'poisson' END AS arrival_regime
    FROM fit
""")
def stats_weibull_fit(spark, sf_dir):
    """Weibull fit to purchase inter-arrival gaps by Menon's
    log-moment estimator (Menon 1963): ln X of a Weibull(k, s) has
    variance pi^2/(6 k^2) and mean ln s - gamma/k, so shape k =
    pi / (sigma_lnX * sqrt(6)) and scale s = exp(mean_lnX + gamma/k)
    — closed form, no iteration. k < 1 = decreasing hazard (bursty:
    the longer since the last purchase, the longer still to wait),
    k = 1 = memoryless Poisson, k > 1 = regular. The third
    extreme-value family member beside the repo's Gumbel block-maxima
    and Hill tail keys, and the distributional refinement of
    events_burstiness_gb's one-number B.

    Gap log-moments snap to 1e6 integers at the row (exact BIGINT /
    HUGEINT power sums); the fit is one fixed expression; the regime
    band reads the SNAPPED k. Zero gaps (same-second arrivals) drop
    — ln is total on what remains, documented.

    Scale shape: one per-stream lag window + ONE 1-row log-moment
    aggregate."""
    gaps = (T(spark, sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .select(F.unix_timestamp("ts").alias("s0"),
                    F.col("ts"), F.col("event_id")))
    w = Window.orderBy("ts", "event_id")
    g = (gaps.select((F.col("s0") - F.lag("s0").over(w)).alias("gap"))
         .filter(F.col("gap").isNotNull() & (F.col("gap") > 0)))
    lnl = F.round(F.log(F.col("gap").cast("double")) * 1e6) \
        .cast("bigint")
    lm = g.select(lnl.alias("l")).agg(
        F.count("*").alias("n"),
        F.sum("l").alias("sl"),
        F.sum(wide("l") * F.col("l")).alias("ql"))
    sigma = (F.sqrt(comoment("n", "ql", "sl", "sl")
                    .cast("double")) / F.col("n") / 1e6)
    k = 3.141592653589793 / (sigma * F.sqrt(F.lit(6.0)))
    fit = lm.select(
        "n", k.alias("k_shape"),
        (F.col("sl").cast("double") / F.col("n") / 1e6)
        .alias("mean_ln"))
    ks = F.round(F.col("k_shape"), 4)
    return fit.select(
        "n", ks.alias("shape_k"),
        F.round(F.exp(F.col("mean_ln")
                      + 0.5772156649015329 / F.col("k_shape")), 2)
        .alias("scale_s"),
        F.when(ks < 1.0, "bursty").when(ks > 1.0, "regular")
        .otherwise("poisson").alias("arrival_regime"))


# ------------------------------------------------------ Heaps' law

@query("text_heaps_law", oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT)
                   AS drk,
               CAST(count(*) OVER () AS BIGINT) AS nd
        FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    grams AS MATERIALIZED (
        SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g,
               drk, len(t) - 2 AS n_grams, nd
        FROM d, unnest(range(1, len(t) - 1)) AS u(i)
    ),
    firsts AS MATERIALIZED (
        SELECT g, CAST(min(drk) AS BIGINT) AS first_rk FROM grams
        GROUP BY g
    ),
    doc_tok AS MATERIALIZED (
        SELECT drk, CAST(max(n_grams) AS BIGINT) AS n_grams,
               max(nd) AS nd
        FROM grams GROUP BY drk
    ),
    cps AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) AS cp),
    points AS (
        SELECT cps.cp,
               (SELECT CAST(sum(n_grams) AS BIGINT) FROM doc_tok
                WHERE drk <= (cps.cp * (SELECT max(nd) FROM doc_tok)
                              + 9) // 10) AS n_tok,
               (SELECT CAST(count(*) AS BIGINT) FROM firsts
                WHERE first_rk <= (cps.cp * (SELECT max(nd)
                                             FROM doc_tok) + 9) // 10)
                   AS v
        FROM cps
    ),
    logs AS (
        SELECT CAST(round(ln(CAST(n_tok AS DOUBLE)) * 1e6) AS BIGINT)
                   AS lx,
               CAST(round(ln(CAST(v AS DOUBLE)) * 1e6) AS BIGINT)
                   AS ly
        FROM points
    ),
    ols AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               {wide_sql('sum(lx)')} AS sx,
               {wide_sql('sum(ly)')} AS sy,
               sum({wide_sql('lx')} * lx) AS sxx,
               sum({wide_sql('lx')} * ly) AS sxy
        FROM logs
    )
    SELECT (SELECT CAST(max(v) AS BIGINT) FROM points) AS vocab_full,
           round(CAST(m * sxy - sx * sy AS DOUBLE)
                 / CAST(m * sxx - sx * sx AS DOUBLE), 4)
               AS heaps_beta,
           round(exp((CAST(sy AS DOUBLE) / m
                      - (CAST(m * sxy - sx * sy AS DOUBLE)
                         / CAST(m * sxx - sx * sx AS DOUBLE))
                        * CAST(sx AS DOUBLE) / m) / 1e6), 2)
               AS heaps_k
    FROM ols
""")
def text_heaps_law(spark, sf_dir):
    """Heaps'-law fit V(n) = K n^beta of TRIGRAM vocabulary growth:
    at ten corpus prefixes (by doc_id order), count tokens seen and
    distinct grams seen, then OLS the log-log points — beta near 1
    means the corpus is still discovering phrases at full rate,
    beta near 0 means saturation (the closed 31-word unigram
    vocabulary IS saturation; the trigram layer is where growth
    lives). With text_zipf_fit this pins the corpus' two classical
    lexical laws; with text_chao1_vocab it cross-checks the
    asymptote.

    First-occurrence doc ranks make prefix vocabularies exact
    (V(prefix) = count of grams whose min doc rank <= cut — no
    re-scan per prefix); token counts are exact prefix sums; the ten
    log points snap to 1e6 and the slope/intercept use exact
    integer-moment forms.

    Scale shape: one gram aggregate (min rank) + one per-doc token
    count + a 10-point constant spine; the corpus is scanned ONCE
    for all ten prefixes. Doc ranks come from the bucket-parallel
    distributed_rank (r10 global-window sweep: the direct
    row_number over doc_id was a FULL-OUTPUT single-partition window
    over the corpus — every doc row through one task at 100 TB;
    doc_ids are unique, so rank over (doc_id, doc_id) is identical)."""
    from ..operators.ranking import distributed_rank

    d0 = (T(spark, sf_dir, "documents")
          .select("doc_id", F.split(F.col("text"), " ").alias("t"))
          .filter(F.size("t") >= 3))
    d = distributed_rank(d0, "doc_id", "doc_id", rank_col="drk")
    nd = d.agg(F.max("drk").alias("nd"))
    grams = d.select(
        "drk", (F.size("t") - 2).cast("bigint").alias("n_grams"),
        F.explode(F.expr(
            "transform(sequence(0, size(t) - 3),"
            " i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2]))"))
        .alias("g"))
    firsts = grams.groupBy("g").agg(F.min("drk").alias("first_rk"))
    doc_tok = grams.groupBy("drk").agg(F.max("n_grams")
                                       .alias("n_grams"))
    cps = spark.range(1, 11).select(F.col("id").cast("int")
                                    .alias("cp"))
    cuts = (cps.crossJoin(F.broadcast(nd))
            .select("cp", F.expr("(cp * nd + 9) DIV 10").alias("cut")))
    ntok = (doc_tok.crossJoin(F.broadcast(cuts))
            .filter(F.col("drk") <= F.col("cut"))
            .groupBy("cp").agg(F.sum("n_grams").alias("n_tok")))
    vocab = (firsts.crossJoin(F.broadcast(cuts))
             .filter(F.col("first_rk") <= F.col("cut"))
             .groupBy("cp").agg(F.count("*").alias("v")))
    points = ntok.join(vocab, "cp")
    logs = points.select(
        F.round(F.log(F.col("n_tok").cast("double")) * 1e6)
        .cast("bigint").alias("lx"),
        F.round(F.log(F.col("v").cast("double")) * 1e6)
        .cast("bigint").alias("ly"))
    ols = logs.agg(
        F.count("*").alias("m"),
        F.sum("lx").alias("sx"), F.sum("ly").alias("sy"),
        F.sum(wide("lx") * F.col("lx")).alias("sxx"),
        F.sum(wide("lx") * F.col("ly")).alias("sxy"))
    beta = (comoment("m", "sxy", "sx", "sy").cast("double")
            / comoment("m", "sxx", "sx", "sx").cast("double"))
    vfull = points.agg(F.max("v").alias("vocab_full"))
    return (ols.crossJoin(F.broadcast(vfull))
            .select("vocab_full",
                    F.round(beta, 4).alias("heaps_beta"),
                    F.round(F.exp((F.col("sy").cast("double")
                                   / F.col("m")
                                   - beta * F.col("sx").cast("double")
                                   / F.col("m")) / 1e6), 2)
                    .alias("heaps_k")))
