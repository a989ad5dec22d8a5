"""Structure-diagnostics pack (round 5, batch 45): embedding-space
isotropy via the sum-vector identity, a Clauset power-law tail fit,
a Schuster periodogram over candidate periods, and the multiclass
Matthews correlation. The reference engine (294 LoC of Rust
delegating to SQLite, reference src/main.rs) has none of this
surface; these are Tier-C mission operators:

- Isotropy (Ethayarajh 2019 lineage): mean pairwise cosine of the
  embedding cloud — anisotropic ("cone-shaped") spaces break cosine
  retrieval; computed WITHOUT pairs via sum_{i != j} cos =
  ||sum v_hat||^2 - n, the identity that turns O(n^2) into one
  O(n d) pass.
- Power-law alpha (Clauset, Shalizi & Newman 2009): the MLE
  alpha = 1 + n / sum ln(d/(dmin - 1/2)) over the tail of the part-
  popularity degree distribution — heavy-tail structure decides
  partitioning/salting strategy at scale.
- Periodogram (Schuster 1898): spectral power at candidate periods
  of the daily revenue series — the frequency-domain twin of the
  repo's folded-variance seasonality scan (same question, different
  estimator; disagreements between the two are themselves a signal).
- Multiclass MCC (Gorodkin 2004): the R_K correlation over the k x k
  confusion matrix — the one single-number multiclass metric that
  survives class imbalance (accuracy does not).

Determinism contract (SURVEY §4.3): normalized components, ln-tail
terms, and trig products snap to fixed-point BEFORE unordered sums
(after the snap every aggregate is an exact integer); confusion
cells and degree tails are exact integers; final statistics are
fixed IEEE expressions rounded once."""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import (
    comoment, comoment_sql, h32, h32_sql, units_sum, units_sum_sql, wide,
    wide_sql)


# ----------------------------------------------- embedding isotropy

@query("embedding_isotropy", oracle=f"""
    WITH comp AS (
        SELECT vec_id, u.i AS dim,
               CAST(embedding[u.i] AS DOUBLE) AS v
        FROM embeddings,
             unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    norms AS (
        SELECT vec_id,
               sqrt(CAST({units_sum_sql('v * v', 1e12)}
                         AS DOUBLE) / 1e12) AS nrm
        FROM comp GROUP BY vec_id
    ),
    unitc AS (
        SELECT comp.vec_id, dim,
               CAST(round(v / nrm * 1e9) AS BIGINT) AS u9
        FROM comp JOIN norms ON comp.vec_id = norms.vec_id
    ),
    dims AS (
        SELECT dim, {wide_sql('sum(u9)')} AS s9
        FROM unitc GROUP BY dim
    ),
    st AS (
        SELECT {wide_sql('sum(s9 * s9)')} AS ss,
               (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n,
               CAST(count(*) AS BIGINT) AS d
        FROM dims
    )
    SELECT n, d,
           round((CAST(ss AS DOUBLE) / 1e18 - n)
                 / (CAST(n AS DOUBLE) * (n - 1)), 6)
               AS mean_pairwise_cos
    FROM st
""")
def embedding_isotropy(spark, sf_dir):
    """Isotropy audit of the embedding cloud: the mean pairwise
    cosine of all n(n-1) ordered pairs, computed WITHOUT forming any
    pair via sum_{i != j} cos(v_i, v_j) = ||sum_i v_hat_i||^2 - n —
    the sum-vector identity that makes the audit one O(n*d) pass
    (contrast: the naive form is a 25-million-row cross join at even
    sf0.01). A mean cosine far above 0 is the anisotropic-cone
    pathology (Ethayarajh 2019) that quietly breaks every
    cosine-threshold dedup and retrieval key downstream.

    Numeric architecture: float32 components widen to double BEFORE
    any math (the map_in_arrow gotcha); per-vector squared norms
    accumulate in 1e12-snapped exact integers over the 64 dims;
    normalized components snap to 1e9, making every per-dimension
    sum an exact BIGINT/HUGEINT and ||S||^2 an exact integer — the
    final expression is one division. Snap error ~1e-9 per
    component is 3 orders below the 6dp round.

    Scale shape: explode + two hash aggregates (vector norms, then
    per-dim sums) + a d-row reduce."""
    comp = (T(spark, sf_dir, "embeddings")
            .select("vec_id",
                    F.posexplode(F.col("embedding"))
                    .alias("dim", "val"))
            .select("vec_id", "dim",
                    F.col("val").cast("double").alias("v")))
    norms = (comp.groupBy("vec_id")
             .agg(F.sqrt(units_sum(F.col("v") * F.col("v"), 1e12)
                         .cast("double") / 1e12)
                  .alias("nrm")))
    unitc = (comp.join(norms, "vec_id")
             .select("dim",
                     F.round(F.col("v") / F.col("nrm") * 1e9)
                     .cast("bigint").alias("u9")))
    dims = unitc.groupBy("dim").agg(F.sum("u9").alias("s9"))
    n = T(spark, sf_dir, "embeddings").agg(F.count("*").alias("n"))
    st = (dims.agg(F.sum(wide("s9") * F.col("s9"))
                   .alias("ss"),
                   F.count("*").alias("d"))
          .crossJoin(F.broadcast(n)))
    return st.select(
        "n", "d",
        F.round((F.col("ss").cast("double") / 1e18 - F.col("n"))
                / (F.col("n").cast("double") * (F.col("n") - 1)), 6)
        .alias("mean_pairwise_cos"))


# ---------------------------------------------- power-law tail MLE

_PL_DMIN = 5


@query("graph_powerlaw_alpha", oracle=f"""
    WITH deg AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS d
        FROM lineitem GROUP BY 1
    ),
    tail AS (
        SELECT d FROM deg WHERE d >= {_PL_DMIN}
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n_tail,
               {units_sum_sql(
                   f'ln(CAST(d AS DOUBLE) / ({_PL_DMIN} - 0.5))', 1e6)} AS l_u
        FROM tail
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           n_tail, CAST({_PL_DMIN} AS BIGINT) AS dmin,
           round(1.0 + n_tail / (l_u / 1e6), 4) AS alpha
    FROM st
""")
def graph_powerlaw_alpha(spark, sf_dir):
    """Power-law tail exponent of the part-popularity degree
    distribution by the Clauset-Shalizi-Newman discrete MLE:
    alpha = 1 + n / sum ln(d / (dmin - 1/2)) over degrees >= dmin = 5
    (the continuous-correction form). Why a query engine ships this:
    alpha decides SKEW STRATEGY — alpha < 2 means the max degree
    grows superlinearly with corpus size, and every join on that key
    needs salting (join_skew_salted) no matter how big the cluster;
    alpha > 3 means hot keys wash out and plain hash partitioning is
    fine.

    Degrees are exact counts; each tail ln term snaps to 1e6 before
    the unordered sum (exact BIGINT aggregate); alpha is one fixed
    expression. dmin is a declared constant (the full CSN procedure
    scans dmin by KS distance; the scan is a bounded loop over this
    same one-aggregate shape).

    Scale shape: one degree aggregate + ONE tail reduce."""
    deg = (T(spark, sf_dir, "lineitem")
           .groupBy("l_partkey").agg(F.count("*").alias("d")))
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    st = (deg.filter(F.col("d") >= _PL_DMIN)
          .agg(F.count("*").alias("n_tail"),
               units_sum(F.log(F.col("d").cast("double")
                                   / (_PL_DMIN - 0.5)), 1e6).alias("l_u")))
    return (st.crossJoin(F.broadcast(n_nodes))
            .select("n_nodes", "n_tail",
                    F.lit(_PL_DMIN).cast("bigint").alias("dmin"),
                    F.round(1.0 + F.col("n_tail")
                            / (F.col("l_u") / 1e6), 4).alias("alpha")))


# -------------------------------------------------- periodogram

_PERIODS = (7, 30, 91, 365)
_TWO_PI = "6.283185307179586"


def _pg_oracle() -> str:
    dev = "(y - CAST(sy AS DOUBLE) / n)"
    arms = ",\n               ".join(
        f"{wide_sql(units_sum_sql(f'{dev} * {fn}({_TWO_PI} * t / {p}.0)'))}"
        f" AS {fn[0]}{p}"
        for p in _PERIODS for fn in ("cos", "sin"))
    rows = "\n        UNION ALL\n".join(
        f"        SELECT CAST({p} AS BIGINT) AS period,"
        f" CAST(c{p} AS DOUBLE) AS cc, CAST(s{p} AS DOUBLE) AS ss,"
        f" n, syyc FROM terms" for p in _PERIODS)
    return f"""
    WITH ser AS (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) - 1
                   AS t, y
        FROM (
            SELECT date_trunc('day', o_orderdate) AS d,
                   {units_sum_sql('o_totalprice', 100)} AS y
            FROM orders GROUP BY 1
        )
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(y)')} AS sy,
               sum({wide_sql('y')} * y) AS syy
        FROM ser
    ),
    terms AS (
        SELECT n,
               CAST({comoment_sql('n', 'syy', 'sy', 'sy')} AS DOUBLE) / n
                   AS syyc,
               {arms}
        FROM ser, m GROUP BY n, syyc
    ),
    longf AS (
{rows}
    )
    SELECT period,
           round(2.0 * (cc * cc + ss * ss) / (n * syyc), 6)
               AS power_share
    FROM longf ORDER BY period
"""


@query("ts_periodogram", oracle=_pg_oracle())
def ts_periodogram(spark, sf_dir):
    """Schuster periodogram of daily order revenue at the business-
    calendar candidate periods (7/30/91/365 days): power_share =
    2(C_p^2 + S_p^2)/(n * SS) with C_p = sum (y_t - ybar)
    cos(2 pi t/p), S_p the sine arm — the share of total variance a
    sinusoid at period p explains (the R^2 of that single-frequency
    fit). Frequency-domain twin of ts_seasonality_strength's folded-
    variance scan; the periodogram sees PHASE-coherent cycles only,
    so comparing the two separates true sinusoidal seasonality from
    mere day-of-week level shifts.

    Each demeaned trig product snaps to whole cents before its
    unordered sum (libm cos/sin wiggle ~1e-16 relative lands ~1e-4
    cents — far inside the snap); the demeaning mean is the exact
    rational S/n; all four (C, S) arm pairs accumulate in ONE
    aggregate pass. Variance uses the exact n*Syy - S^2 form.

    Scale shape: day-spine collapse + ONE 8-sum aggregate + a
    constant 4-row unpivot."""
    from .regdiag import _dayser
    ser = _dayser(spark, sf_dir).select("t", "y")
    m = ser.agg(F.count("*").alias("n"), F.sum("y").alias("sy"),
                F.sum(wide("y") * F.col("y")).alias("syy"))
    two_pi = float(_TWO_PI)
    dem = F.col("y") - F.col("sy").cast("double") / F.col("n")
    aggs = []
    for p in _PERIODS:
        ang = F.lit(two_pi) * F.col("t") / float(p)
        aggs += [wide(units_sum(dem * F.cos(ang))).alias(f"c{p}"),
                 wide(units_sum(dem * F.sin(ang))).alias(f"s{p}")]
    syyc = (comoment("n", "syy", "sy", "sy").cast("double")
            / F.col("n"))
    terms = (ser.crossJoin(F.broadcast(m))
             .groupBy("n", syyc.alias("syyc")).agg(*aggs))
    longf = None
    for p in _PERIODS:
        row = terms.select(
            F.lit(p).cast("bigint").alias("period"),
            F.col(f"c{p}").cast("double").alias("cc"),
            F.col(f"s{p}").cast("double").alias("ss"),
            "n", "syyc")
        longf = row if longf is None else longf.unionAll(row)
    return (longf.select(
        "period",
        F.round(2.0 * (F.col("cc") * F.col("cc")
                       + F.col("ss") * F.col("ss"))
                / (F.col("n") * F.col("syyc")), 6)
        .alias("power_share"))
        .orderBy("period"))


# ------------------------------------------------ multiclass MCC

@query("eval_mcc_multiclass", oracle=f"""
    WITH labeled AS (
        SELECT event_type AS y,
               CASE WHEN {h32_sql("CAST(event_id AS VARCHAR)")} % 10 < 7
                    THEN event_type
                    ELSE CASE event_type
                         WHEN 'click' THEN 'error'
                         WHEN 'error' THEN 'purchase'
                         WHEN 'purchase' THEN 'signup'
                         WHEN 'signup' THEN 'view'
                         ELSE 'click' END
               END AS yhat
        FROM events
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS s,
               CAST(sum(CASE WHEN y = yhat THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
        FROM labeled
    ),
    tk AS (SELECT y, CAST(count(*) AS BIGINT) AS t FROM labeled
           GROUP BY y),
    pk AS (SELECT yhat, CAST(count(*) AS BIGINT) AS p FROM labeled
           GROUP BY yhat),
    cross_ AS (
        SELECT {wide_sql(f'sum({wide_sql("tk.t")} * pk.p)')}
                   AS tp_sum
        FROM tk JOIN pk ON tk.y = pk.yhat
    ),
    sq AS (
        SELECT (SELECT {wide_sql(f'sum({wide_sql("t")} * t)')}
                FROM tk) AS t2,
               (SELECT {wide_sql(f'sum({wide_sql("p")} * p)')}
                FROM pk) AS p2
    )
    SELECT s, c,
           round(CAST(c AS DOUBLE) / s, 6) AS accuracy,
           round(CAST({wide_sql('c')} * s - tp_sum AS DOUBLE)
                 / (sqrt(CAST({wide_sql('s')} * s - p2 AS DOUBLE))
                    * sqrt(CAST({wide_sql('s')} * s - t2
                                AS DOUBLE))), 6) AS mcc
    FROM st, cross_, sq
""")
def eval_mcc_multiclass(spark, sf_dir):
    """Multiclass Matthews correlation R_K (Gorodkin 2004) of a
    deterministic noisy classifier over the 5 event types (the h32
    persona keeps the true label with probability 7/10, else shifts
    one class cyclically): R_K = (c*s - sum_k t_k p_k) /
    (sqrt(s^2 - sum p_k^2) * sqrt(s^2 - sum t_k^2)) — the one
    multiclass single-number metric that is symmetric, bounded, and
    imbalance-proof (the repo's eval_confusion_panel MCC is the
    binary special case; accuracy is reported alongside to show what
    it hides).

    Every ingredient — correct count, class totals, predicted totals,
    their squares and cross products — is an exact BIGINT/HUGEINT
    integer; MCC is one fixed float expression over six exact
    integers.

    Scale shape: one labeled pass + three bounded (k-row)
    aggregates."""
    shift = {"click": "error", "error": "purchase",
             "purchase": "signup", "signup": "view", "view": "click"}
    yhat = F.when(
        F.pmod(h32(F.col("event_id").cast("string")), 10) < 7,
        F.col("event_type"))
    cyc = None
    for k, v in shift.items():
        cyc = (F.when(F.col("event_type") == k, v) if cyc is None
               else cyc.when(F.col("event_type") == k, v))
    labeled = T(spark, sf_dir, "events").select(
        F.col("event_type").alias("y"),
        yhat.otherwise(cyc).alias("yhat"))
    st = labeled.agg(
        F.count("*").alias("s"),
        F.sum(F.when(F.col("y") == F.col("yhat"), 1).otherwise(0))
        .alias("c"))
    tk = labeled.groupBy("y").agg(F.count("*").alias("t"))
    pk = labeled.groupBy("yhat").agg(F.count("*").alias("p"))
    cross_ = (tk.join(pk, tk.y == pk.yhat)
              .agg(F.sum(wide("t") * F.col("p"))
                   .alias("tp_sum")))
    t2 = tk.agg(F.sum(wide("t") * F.col("t")).alias("t2"))
    p2 = pk.agg(F.sum(wide("p") * F.col("p")).alias("p2"))
    j = (st.crossJoin(F.broadcast(cross_))
         .crossJoin(F.broadcast(t2))
         .crossJoin(F.broadcast(p2)))
    ss = wide("s")
    return j.select(
        "s", "c",
        F.round(F.col("c").cast("double") / F.col("s"), 6)
        .alias("accuracy"),
        F.round((wide("c") * F.col("s") - F.col("tp_sum"))
                .cast("double")
                / (F.sqrt((ss * F.col("s") - F.col("p2"))
                          .cast("double"))
                   * F.sqrt((ss * F.col("s") - F.col("t2"))
                            .cast("double"))), 6).alias("mcc"))
