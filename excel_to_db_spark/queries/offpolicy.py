"""Off-policy evaluation / recsys-audit / SLA pack (round 5, batch
38): IPS + self-normalized IPS with effective sample size, bandit
replay evaluation, recommendation catalog-coverage & novelty, and the
Apdex satisfaction score. The reference engine (294 LoC of Rust
delegating to SQLite, reference src/main.rs) has none of this
surface; these are Tier-C mission operators — the counterfactual /
serving-quality panel:

- IPS / SNIPS (Horvitz & Thompson 1952; Swaminathan & Joachims
  2015): estimate what a NEW policy would have earned from logs
  collected under the old one, by inverse-propensity reweighting;
  SNIPS divides by the weight mass (lower variance, small bias);
  ESS says how many effective samples survive the reweighting.
- Bandit replay (Li et al. 2011): the unbiased evaluation that keeps
  exactly the rounds where the target policy agrees with the log.
- Catalog coverage + novelty (Castells et al. 2015): what share of
  the catalog a recommender actually surfaces, and how far from the
  popularity head its picks sit.
- Apdex (Apdex Alliance 2004): the industry-standard satisfaction
  ratio (satisfied + tolerating/2)/n at threshold T / 4T.

Determinism contract (SURVEY §4.3): propensities and match counts are
exact integers; per-action IPS/weight terms and per-recommendation
-log2(popularity) terms snap to 1e6 fixed-point before their
unordered sums; Apdex is the exact rational (2*sat + tol)/(2n).
Target policies are deterministic functions of logged context (user
segment = user_id % 4) — reproducible, no RNG."""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import units_sum, units_sum_sql

# Deterministic target policy: user segment -> intended action.
_SEG_ACTION = ["click", "view", "purchase", "signup"]
_SEG_CASE = ("CASE pmod(user_id, 4) "
             + " ".join(f"WHEN {i} THEN '{a}'"
                        for i, a in enumerate(_SEG_ACTION))
             + " END")
_SEG_CASE_DUCK = ("CASE ((user_id % 4) + 4) % 4 "
                  + " ".join(f"WHEN {i} THEN '{a}'"
                             for i, a in enumerate(_SEG_ACTION))
                  + " END")


# ------------------------------------------------------- IPS / SNIPS

@query("eval_ips_snips", oracle=f"""
    WITH logged AS (
        SELECT event_type AS a,
               CAST(round(value * 100) AS BIGINT) AS r,
               CASE WHEN event_type = {_SEG_CASE_DUCK}
                    THEN 1 ELSE 0 END AS hit
        FROM events
    ),
    arms AS (
        SELECT a, CAST(count(*) AS BIGINT) AS n_a,
               CAST(sum(hit) AS BIGINT) AS m_a,
               CAST(sum(hit * r) AS BIGINT) AS s_a
        FROM logged GROUP BY a
    ),
    tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS n FROM arms),
    terms AS (
        SELECT {units_sum_sql('CAST(s_a AS DOUBLE) / n_a', 1e6)} AS ips_u,
               {units_sum_sql('CAST(m_a AS DOUBLE) / n_a', 1e6)} AS w_u,
               {units_sum_sql(
                   'CAST(m_a AS DOUBLE) / n_a * (CAST(n AS DOUBLE) / n_a)', 1e6)} AS w2_u
        FROM arms, tot
    )
    SELECT n,
           round(ips_u / 1e6 / 100.0, 4) AS ips_value,
           round(CAST(ips_u AS DOUBLE) / w_u / 100.0, 4) AS snips_value,
           round((CAST(w_u AS DOUBLE) / 1e6)
                 * (CAST(w_u AS DOUBLE) / 1e6) * n
                 / (CAST(w2_u AS DOUBLE) / 1e6), 2) AS ess
    FROM terms, tot
""")
def eval_ips_snips(spark, sf_dir):
    """Inverse-propensity off-policy value of a deterministic
    segment-routing policy (user_id%4 -> action) evaluated on logs
    whose behavior policy is the empirical action marginal p(a) =
    n_a/N: IPS = (1/N) sum r_i * 1[a_i = pi(x_i)]/p(a_i), SNIPS
    divides by the realized weight mass (Swaminathan & Joachims 2015),
    and ESS = (sum w)^2/sum w^2 reports how many effective samples
    survive reweighting — the honesty metric every off-policy readout
    must ship with.

    The per-row sum COLLAPSES to per-action algebra (all rows of
    action a share the weight N/n_a): IPS = sum_a S_a/n_a, the weight
    mass = sum_a m_a N/n_a, sum w^2 = sum_a m_a (N/n_a)^2 — exact
    integer inputs; each arm's term snaps to 1e6 before the 5-term
    unordered sum. ESS simplifies to (sum w)^2 * N... held in the
    snapped w/w2 forms; final rounds end it.

    Scale shape: ONE conditional aggregate to 5 arm rows + 1-row
    reduces — the log never re-shuffles, propensities never
    materialize per row."""
    logged = T(spark, sf_dir, "events").select(
        F.col("event_type").alias("a"),
        F.round(F.col("value") * 100).cast("bigint").alias("r"),
        F.when(F.col("event_type") == F.expr(_SEG_CASE), 1)
        .otherwise(0).alias("hit"))
    arms = logged.groupBy("a").agg(
        F.count("*").alias("n_a"), F.sum("hit").alias("m_a"),
        F.sum(F.col("hit") * F.col("r")).alias("s_a"))
    tot = arms.agg(F.sum("n_a").alias("n"))
    terms = (arms.crossJoin(F.broadcast(tot))
             .agg(units_sum(F.col("s_a").cast("double")
                                / F.col("n_a"), 1e6)
                  .alias("ips_u"),
                  units_sum(F.col("m_a").cast("double")
                                / F.col("n_a"), 1e6)
                  .alias("w_u"),
                  units_sum(F.col("m_a").cast("double")
                                / F.col("n_a")
                                * (F.col("n").cast("double")
                                   / F.col("n_a")), 1e6).alias("w2_u"),
                  F.max("n").alias("n")))
    wm = F.col("w_u").cast("double") / 1e6
    return terms.select(
        "n",
        F.round(F.col("ips_u") / 1e6 / 100.0, 4).alias("ips_value"),
        F.round(F.col("ips_u").cast("double") / F.col("w_u") / 100.0, 4)
        .alias("snips_value"),
        F.round(wm * wm * F.col("n")
                / (F.col("w2_u").cast("double") / 1e6), 2).alias("ess"))


# ------------------------------------------------- bandit replay

@query("eval_bandit_replay", oracle=f"""
    WITH logged AS (
        SELECT event_type AS a,
               CAST(round(value * 100) AS BIGINT) AS r,
               {_SEG_CASE_DUCK} AS pi_seg
        FROM events
    ),
    pol AS (
        SELECT 'segment_router' AS policy,
               CAST(count(*) AS BIGINT) AS n_logged,
               CAST(sum(CASE WHEN a = pi_seg THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_matched,
               CAST(sum(CASE WHEN a = pi_seg THEN r ELSE 0 END)
                    AS BIGINT) AS s
        FROM logged
        UNION ALL
        SELECT 'always_click',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN a = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(sum(CASE WHEN a = 'click' THEN r ELSE 0 END)
                    AS BIGINT)
        FROM logged
    )
    SELECT policy, n_matched,
           round(CAST(n_matched AS DOUBLE) / n_logged, 6)
               AS match_rate,
           round(CAST(s AS DOUBLE) / n_matched / 100.0, 4)
               AS replay_value
    FROM pol
""")
def eval_bandit_replay(spark, sf_dir):
    """Replay (rejection-sampling) evaluation of two candidate
    policies against the event log (Li et al. 2011): keep exactly the
    rounds where the target's action equals the logged action; the
    mean logged reward over kept rounds is an unbiased estimate of
    the target policy's value when logging is uniform over actions —
    and the match_rate column is the audit of that assumption (a
    segment-balanced log matches ~1/k).

    Two deterministic policies are scored side by side: the
    segment router (user_id%4 -> action) and the always-click
    baseline. Matched counts and reward sums are exact integers; the
    two output ratios round once each.

    Scale shape: ONE pass over the log producing both policies'
    conditional sums (a 2-row UNION of 1-row aggregates); nothing
    re-shuffles per policy."""
    logged = T(spark, sf_dir, "events").select(
        F.col("event_type").alias("a"),
        F.round(F.col("value") * 100).cast("bigint").alias("r"),
        F.expr(_SEG_CASE).alias("pi_seg"))
    seg = (logged.agg(
        F.count("*").alias("n_logged"),
        F.sum(F.when(F.col("a") == F.col("pi_seg"), 1).otherwise(0))
        .alias("n_matched"),
        F.sum(F.when(F.col("a") == F.col("pi_seg"), F.col("r"))
              .otherwise(0)).alias("s"))
        .select(F.lit("segment_router").alias("policy"),
                "n_logged", "n_matched", "s"))
    clk = (logged.agg(
        F.count("*").alias("n_logged"),
        F.sum(F.when(F.col("a") == "click", 1).otherwise(0))
        .alias("n_matched"),
        F.sum(F.when(F.col("a") == "click", F.col("r")).otherwise(0))
        .alias("s"))
        .select(F.lit("always_click").alias("policy"),
                "n_logged", "n_matched", "s"))
    pol = seg.unionAll(clk)
    return pol.select(
        "policy", "n_matched",
        F.round(F.col("n_matched").cast("double") / F.col("n_logged"),
                6).alias("match_rate"),
        F.round(F.col("s").cast("double") / F.col("n_matched") / 100.0,
                4).alias("replay_value"))


# ------------------------------------- catalog coverage + novelty

@query("recsys_catalog_coverage", oracle=f"""
    WITH spend AS (
        SELECT o.o_custkey AS cust, l.l_partkey AS part,
               {units_sum_sql('l.l_extendedprice', 100)} AS cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    recs AS (
        SELECT cust, part FROM (
            SELECT cust, part,
                   row_number() OVER (PARTITION BY cust
                       ORDER BY cents DESC, part) AS rk
            FROM spend
        ) WHERE rk <= 3
    ),
    pop2 AS (
        SELECT l_partkey AS part, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS total FROM pop2
    ),
    nov AS (
        SELECT CAST(count(*) AS BIGINT) AS n_recs,
               CAST(count(DISTINCT recs.part) AS BIGINT) AS n_covered,
               CAST(count(DISTINCT recs.cust) AS BIGINT) AS n_users,
               {units_sum_sql(
                   '-log2(CAST(pop2.cnt AS DOUBLE) / tot.total)', 1e6)} AS nov_u
        FROM recs JOIN pop2 ON recs.part = pop2.part CROSS JOIN tot
    )
    SELECT n_users, n_recs, n_covered,
           round(CAST(n_covered AS DOUBLE)
                 / (SELECT count(*) FROM part), 6) AS coverage,
           round(nov_u / (CAST(n_recs AS DOUBLE) * 1e6), 4) AS novelty
    FROM nov
""")
def recsys_catalog_coverage(spark, sf_dir):
    """Catalog coverage + popularity novelty of a top-3-by-spend
    recommender (Castells, Hurley & Vargas 2015): coverage = share of
    the part catalog that appears in ANYONE's top-3 (the aggregate-
    diversity audit — a recommender can be accurate and still sell 2%
    of the catalog); novelty = mean -log2(popularity share) of the
    recommended items (self-information: recommending the head is
    worth ~0 bits).

    Recommendations rank each customer's parts by exact integer cents
    (part-key tie-break); popularity shares are exact count rationals;
    each recommendation's -log2 term snaps to 1e6 before the
    unordered sum. The WindowGroupLimit top-3 never materializes full
    rankings.

    Scale shape: one (cust, part) aggregate + per-customer top-k
    window + broadcast popularity join + 1-row reduce."""
    from pyspark.sql import Window
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey",
                                             "l_extendedprice")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    spend = (li.join(o, li.l_orderkey == o.o_orderkey)
             .groupBy(F.col("o_custkey").alias("cust"),
                      F.col("l_partkey").alias("part"))
             .agg(units_sum(F.col("l_extendedprice"), 100).alias("cents")))
    recs = (spend.select(
        "cust", "part",
        F.row_number().over(Window.partitionBy("cust")
                            .orderBy(F.col("cents").desc(), "part"))
        .alias("rk")).filter(F.col("rk") <= 3).select("cust", "part"))
    pop2 = (li.groupBy(F.col("l_partkey").alias("part"))
            .agg(F.count("*").alias("cnt")))
    tot = pop2.agg(F.sum("cnt").alias("total"))
    catalog = T(spark, sf_dir, "part").agg(
        F.count("*").alias("n_catalog"))
    nov = (recs.join(pop2, "part")
           .crossJoin(F.broadcast(tot))
           .agg(F.count("*").alias("n_recs"),
                F.countDistinct("part").alias("n_covered"),
                F.countDistinct("cust").alias("n_users"),
                units_sum(-F.log2(F.col("cnt").cast("double")
                                      / F.col("total")), 1e6).alias("nov_u")))
    return (nov.crossJoin(F.broadcast(catalog))
            .select("n_users", "n_recs", "n_covered",
                    F.round(F.col("n_covered").cast("double")
                            / F.col("n_catalog"), 6).alias("coverage"),
                    F.round(F.col("nov_u")
                            / (F.col("n_recs").cast("double") * 1e6), 4)
                    .alias("novelty")))


# ------------------------------------------------------------ Apdex

@query("ops_apdex", oracle="""
    WITH lat AS (
        SELECT event_type AS service,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    st AS (
        SELECT service, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN c <= 5000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS satisfied,
               CAST(sum(CASE WHEN c > 5000 AND c <= 20000 THEN 1
                        ELSE 0 END) AS BIGINT) AS tolerating
        FROM lat GROUP BY service
    )
    SELECT service, n, satisfied, tolerating,
           round(CAST(2 * satisfied + tolerating AS DOUBLE)
                 / (2.0 * n), 4) AS apdex
    FROM st
""")
def ops_apdex(spark, sf_dir):
    """Apdex satisfaction score per service (Apdex Alliance 2004),
    event value as the latency proxy with threshold T = 50.00 (cent
    units: satisfied <= 5000, tolerating <= 4T = 20000): apdex =
    (satisfied + tolerating/2) / n — the industry-standard one-number
    SLA readout that, unlike a mean latency, cannot be gamed by a
    fast-median/slow-tail distribution.

    Counts are exact conditional integers; apdex is the exact
    rational (2*sat + tol)/(2n) rounded once — no float enters until
    the final division.

    Scale shape: ONE map-side-combinable conditional aggregate to
    5 service rows."""
    lat = T(spark, sf_dir, "events").select(
        F.col("event_type").alias("service"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"))
    st = lat.groupBy("service").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("c") <= 5000, 1).otherwise(0))
        .alias("satisfied"),
        F.sum(F.when((F.col("c") > 5000) & (F.col("c") <= 20000), 1)
              .otherwise(0)).alias("tolerating"))
    return st.select(
        "service", "n", "satisfied", "tolerating",
        F.round((2 * F.col("satisfied") + F.col("tolerating"))
                .cast("double") / (2.0 * F.col("n")), 4).alias("apdex"))
