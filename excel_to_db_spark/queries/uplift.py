"""Uplift-targeting pack (round 6, batch 92). The reference engine
(294 LoC of Rust delegating to SQLite, reference src/main.rs) has no
causal-marketing surface; two Tier-C mission operators — the
incremental-response readout a targeting team computes before
spending on a segment, in the repo's exact-integer contract:

- uplift_response_deciles: treated-vs-control response rates per
  score decile (treatment = urgent/high order priority, response =
  any returned lineitem, score = customer balance as the stand-in
  model score) — the uplift-by-decile table.
- uplift_qini_points: the cumulative Qini curve at the decile
  cutpoints (Radcliffe's Qini = Rt(k) - Rc(k)*Nt(k)/Nc(k), exact
  milli) — the area-under readout that ranks targeting models.

Scale shapes: the response flag is one orderkey-shuffled groupBy of
lineitem; the global score rank uses operators/ranking.
distributed_rank (range-bucketed, no single-task window cliff); both
reports collapse to a 10-row decile panel before any window."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import physical
from ..operators.ranking import distributed_rank
from .registry import query
from .relational import T

_DECILE_SQL = """
    resp AS (
        SELECT l_orderkey AS ok,
               max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                 AS responded
        FROM lineitem GROUP BY 1
    ),
    scored AS (
        SELECT o.o_orderkey AS ok,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS treated,
               coalesce(r.responded, 0) AS responded,
               c.c_acctbal AS score
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        LEFT JOIN resp r ON r.ok = o.o_orderkey
    ),
    ranked AS (
        SELECT treated, responded,
               row_number() OVER (ORDER BY score DESC, ok) AS rk,
               count(*) OVER () AS n
        FROM scored
    ),
    dec AS MATERIALIZED (
        SELECT CAST((rk - 1) * 10 // n AS BIGINT) AS decile,
               CAST(sum(treated) AS BIGINT) AS n_t,
               CAST(count(*) - sum(treated) AS BIGINT) AS n_c,
               CAST(sum(treated * responded) AS BIGINT) AS r_t,
               CAST(sum((1 - treated) * responded) AS BIGINT) AS r_c
        FROM ranked GROUP BY 1
    )
"""


def _decile_panel(spark, sf_dir):
    """10-row (decile, n_t, n_c, r_t, r_c) panel: response flag from
    one orderkey-shuffled lineitem collapse, treatment from order
    priority, score rank via distributed_rank on (-acctbal, orderkey)
    — bit-identical to the oracle's DESC row_number, no
    single-partition window."""
    li = (T(spark, sf_dir, "lineitem")
          .groupBy(F.col("l_orderkey").alias("ok"))
          .agg(F.max(F.when(F.col("l_returnflag") == "R", 1)
                     .otherwise(0)).alias("responded")))
    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), "o_custkey",
        F.when(F.col("o_orderpriority")
               .isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
        .alias("treated"))
    c = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_acctbal").alias("score"))
    # distributed_rank traverses its input three times (percentile
    # boundaries, bucketing, bucket counts) and the panel takes two
    # actions (count + groupBy): without pinning, the 3-way join
    # re-derived FIVE times (plan-audited). Cut both
    # seams per the r5 plan-growth rule; at 100 TB the same seams
    # checkpoint to parquet instead.
    scored = (o.join(c, "o_custkey")
              .join(li, "ok", "left")
              .select("ok", "treated",
                      F.coalesce("responded", F.lit(0))
                      .alias("responded"),
                      (-F.col("score")).alias("neg_s"))
              .transform(physical.cut))
    ranked = distributed_rank(scored, "neg_s", "ok", rank_col="rk") \
        .transform(physical.cut)
    n = ranked.count()
    return (ranked
            .groupBy(F.expr(f"(rk - 1) * 10 div {n}").alias("decile"))
            .agg(F.sum("treated").alias("n_t"),
                 (F.count("*") - F.sum("treated")).alias("n_c"),
                 F.sum(F.col("treated") * F.col("responded"))
                 .alias("r_t"),
                 F.sum((1 - F.col("treated")) * F.col("responded"))
                 .alias("r_c")))


@query("uplift_response_deciles", oracle=f"""
    WITH {_DECILE_SQL}
    SELECT decile, n_t, n_c, r_t, r_c,
           CAST(r_t * 1000000 // n_t AS BIGINT) AS rate_t_micro,
           CAST(r_c * 1000000 // n_c AS BIGINT) AS rate_c_micro,
           CAST(r_t * 1000000 // n_t - r_c * 1000000 // n_c
                AS BIGINT) AS uplift_micro
    FROM dec
""")
def uplift_response_deciles(spark, sf_dir):
    """Uplift by score decile: treated vs control response rates in
    exact micro (each div runs on non-negative ints BEFORE the
    signed subtraction), per decile of the customer-balance score —
    the table that says which deciles the treatment actually moves.
    Every decile holds both arms at any SF (priorities and
    returnflags are uniform in the generator), so the rate
    denominators never vanish."""
    return (_decile_panel(spark, sf_dir)
            .select("decile", "n_t", "n_c", "r_t", "r_c",
                    F.expr("r_t * 1000000 div n_t")
                    .alias("rate_t_micro"),
                    F.expr("r_c * 1000000 div n_c")
                    .alias("rate_c_micro"),
                    F.expr("r_t * 1000000 div n_t"
                           " - r_c * 1000000 div n_c")
                    .alias("uplift_micro")))


@query("uplift_qini_points", oracle=f"""
    WITH {_DECILE_SQL}
    SELECT decile,
           CAST(sum(n_t) OVER w AS BIGINT) AS cum_t,
           CAST(sum(n_c) OVER w AS BIGINT) AS cum_c,
           CAST(sum(r_t) OVER w AS BIGINT) AS cum_rt,
           CAST(sum(r_c) OVER w AS BIGINT) AS cum_rc,
           CAST(CAST(sum(r_t) OVER w AS BIGINT) * 1000
                - CAST(sum(r_c) OVER w AS BIGINT)
                  * CAST(sum(n_t) OVER w AS BIGINT) * 1000
                  // CAST(sum(n_c) OVER w AS BIGINT)
                AS BIGINT) AS qini_milli
    FROM dec
    WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
""")
def uplift_qini_points(spark, sf_dir):
    """Cumulative Qini curve at decile cutpoints: targeting the top
    k deciles, the incremental responders beyond the control
    expectation — Rt(k) - Rc(k)*Nt(k)/Nc(k) in exact milli (the
    Rc*Nt*1000 product stays under int64 through ~1e8-order corpora;
    past that, rescale milli->centi before the multiply). The
    cumulative window runs over the 10-row decile panel only."""
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0)
    return (_decile_panel(spark, sf_dir)
            .select("decile",
                    F.sum("n_t").over(w).alias("cum_t"),
                    F.sum("n_c").over(w).alias("cum_c"),
                    F.sum("r_t").over(w).alias("cum_rt"),
                    F.sum("r_c").over(w).alias("cum_rc"))
            .select("decile", "cum_t", "cum_c", "cum_rt", "cum_rc",
                    F.expr("cum_rt * 1000"
                           " - cum_rc * cum_t * 1000 div cum_c")
                    .alias("qini_milli")))
