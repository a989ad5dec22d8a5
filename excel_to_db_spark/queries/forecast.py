"""Intermittent-demand forecasting pack (round 6, batch 68). The
reference engine (294 LoC of Rust delegating to SQLite, reference
src/main.rs) has no forecasting surface; these are Tier-C mission
operators — the supply-chain demand stack for SPARSE series (a part
sells ~30 days out of 2400 here: ADI ~ 80), where naive mean/ETS
forecasts are known-biased and the Croston family is the standard.

Series: per-part daily demand from orders x lineitem (quantities are
exact integers 1..50; day index = datediff from 1995-01-01, span 2405
days). Train = day < 1920 (80% of span), test = the rest. Every
reported number is integer micro/milli arithmetic on exact integer
sums — no float anywhere.

- ts_croston_sba: Croston's decomposition (mean nonzero size zbar /
  mean inter-demand interval pbar; the alpha->0 long-run-average
  variant, intervals telescoped to (last-first)/(n-1)) plus the
  Syntetos-Boylan approximation's bias correction *(1 - 0.5/pbar).
- ts_intermittency_classes: the Syntetos-Boylan ADI x CV^2 quadrant
  census (smooth / intermittent / erratic / lumpy at the canonical
  1.32 / 0.49 cutoffs) — the router that decides WHICH forecaster a
  part gets at all.
- ts_pinball_eval: quantile-forecast evaluation — exact k = ceil(qn)
  order-statistic forecasts from train daily totals, pinball loss
  (x100, exact integer) on test; the loss that grades P10/P50/P90
  service-level forecasts.
- ts_tracking_signal: per-weekday naive forecast, then the classic
  forecast-control chart: cumulative signed error / MAD (Trigg's
  tracking signal, x1000) — |TS| > 4-6 flags a broken forecast.

Scale shapes: per-part stats are one map-side-combinable aggregate
over the join (the join shuffles on orderkey once); the quantile grid
is bounded (2405 days regardless of SF — the window is over a
fixed-size aggregate, not the corpus); weekday panel is 7 groups."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T

_SPLIT = 1920          # train: day < 1920; test: day >= 1920
_N_DAYS = 2405         # full span 1995-01-01 .. 2001-08-01 inclusive

_DAILY_PART_SQL = """
    pd AS (
        SELECT l_partkey AS part,
               datediff('day', DATE '1995-01-01',
                        CAST(o_orderdate AS DATE)) AS day,
               CAST(sum(l_quantity) AS BIGINT) AS q
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    )
"""

_DAILY_TOTAL_SQL = """
    dt AS (
        SELECT datediff('day', DATE '1995-01-01',
                        CAST(o_orderdate AS DATE)) AS day,
               CAST(sum(l_quantity) AS BIGINT) AS q
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
    )
"""


def _daily_part(spark, sf_dir):
    """(part, day, q): per-part daily demand, exact integer units."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy(F.col("l_partkey").alias("part"),
                     F.datediff(F.col("o_orderdate").cast("date"),
                                F.lit("1995-01-01").cast("date"))
                     .alias("day"))
            .agg(F.sum("l_quantity").cast("bigint").alias("q")))


def _daily_total(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy(F.datediff(F.col("o_orderdate").cast("date"),
                                F.lit("1995-01-01").cast("date"))
                     .alias("day"))
            .agg(F.sum("l_quantity").cast("bigint").alias("q")))


@query("ts_croston_sba", oracle=f"""
    WITH {_DAILY_PART_SQL},
    st AS (
        SELECT part, count(*) AS n_d, sum(q) AS sum_q,
               min(day) AS first_day, max(day) AS last_day
        FROM pd WHERE day < {_SPLIT} GROUP BY part
    ),
    cr AS (
        SELECT part, n_d,
               CAST(sum_q * 1000000 // n_d AS BIGINT) AS zbar_micro,
               CAST((last_day - first_day) * 1000000 // (n_d - 1)
                    AS BIGINT) AS pbar_micro
        FROM st WHERE n_d >= 3 AND part < 60
    )
    SELECT part, n_d, zbar_micro, pbar_micro,
           zbar_micro * 1000000 // pbar_micro AS croston_micro,
           zbar_micro * 1000000 // pbar_micro
             - (zbar_micro * 1000000 // pbar_micro) * 500000
               // pbar_micro AS sba_micro
    FROM cr
""")
def ts_croston_sba(spark, sf_dir):
    """Croston's intermittent-demand forecast, long-run-average form:
    demand rate = (mean nonzero size) / (mean inter-demand interval),
    with the interval mean telescoped to (last-first)/(n-1) — exactly
    the average of consecutive gaps, no lag window needed. The SBA
    column applies Syntetos-Boylan's *(1 - 0.5/pbar) bias correction
    (Croston's estimator is biased high). All integer micro units;
    report restricted to a pinned deterministic panel (part < 60 with
    >= 3 train demands) — per-part stats are one aggregate at any
    scale."""
    pd_ = _daily_part(spark, sf_dir)
    st = (pd_.where(F.col("day") < _SPLIT)
          .groupBy("part")
          .agg(F.count("*").alias("n_d"), F.sum("q").alias("sum_q"),
               F.min("day").alias("first_day"),
               F.max("day").alias("last_day")))
    cr = (st.where((F.col("n_d") >= 3) & (F.col("part") < 60))
          .select("part", "n_d",
                  F.expr("sum_q * 1000000 div n_d").alias("zbar_micro"),
                  F.expr("(last_day - first_day) * 1000000 div (n_d - 1)")
                  .alias("pbar_micro")))
    return cr.select(
        "part", "n_d", "zbar_micro", "pbar_micro",
        F.expr("zbar_micro * 1000000 div pbar_micro")
        .alias("croston_micro"),
        F.expr("zbar_micro * 1000000 div pbar_micro"
               " - (zbar_micro * 1000000 div pbar_micro) * 500000"
               " div pbar_micro").alias("sba_micro"))


@query("ts_intermittency_classes", oracle=f"""
    WITH {_DAILY_PART_SQL},
    st AS (
        SELECT part, count(*) AS n_d, sum(q) AS sum_q,
               sum(q * q) AS sum_q2
        FROM pd GROUP BY part
    ),
    cls AS (
        SELECT part,
               {_N_DAYS * 1000000} // n_d AS adi_micro,
               (n_d * sum_q2 - sum_q * sum_q) * 1000000
                 // (sum_q * sum_q) AS cv2_micro
        FROM st WHERE n_d >= 2
    )
    SELECT CASE WHEN adi_micro < 1320000 AND cv2_micro < 490000
                  THEN 'smooth'
                WHEN adi_micro >= 1320000 AND cv2_micro < 490000
                  THEN 'intermittent'
                WHEN adi_micro < 1320000 THEN 'erratic'
                ELSE 'lumpy' END AS quadrant,
           count(*) AS n_parts,
           CAST(sum(adi_micro) // count(*) AS BIGINT) AS avg_adi_micro,
           CAST(sum(cv2_micro) // count(*) AS BIGINT) AS avg_cv2_micro
    FROM cls GROUP BY 1
""")
def ts_intermittency_classes(spark, sf_dir):
    """Syntetos-Boylan demand classification: ADI (average inter-demand
    interval = span / n_demands) x CV^2 of nonzero sizes (population
    variance over squared mean, exact rational -> integer micro), cut
    at the canonical 1.32 / 0.49 into smooth / intermittent / erratic
    / lumpy — the router that picks ETS vs Croston vs SBA per series.
    One aggregate per part, then a 4-row census."""
    pd_ = _daily_part(spark, sf_dir)
    st = (pd_.groupBy("part")
          .agg(F.count("*").alias("n_d"), F.sum("q").alias("sum_q"),
               F.sum(F.col("q") * F.col("q")).alias("sum_q2")))
    cls = (st.where(F.col("n_d") >= 2)
           .select(F.expr(f"{_N_DAYS * 1000000} div n_d")
                   .alias("adi_micro"),
                   F.expr("(n_d * sum_q2 - sum_q * sum_q) * 1000000"
                          " div (sum_q * sum_q)").alias("cv2_micro")))
    quadrant = (
        F.when((F.col("adi_micro") < 1320000)
               & (F.col("cv2_micro") < 490000), "smooth")
        .when((F.col("adi_micro") >= 1320000)
              & (F.col("cv2_micro") < 490000), "intermittent")
        .when(F.col("adi_micro") < 1320000, "erratic")
        .otherwise("lumpy"))
    return (cls.groupBy(quadrant.alias("quadrant"))
            .agg(F.count("*").alias("n_parts"),
                 F.expr("sum(adi_micro) div count(*)")
                 .alias("avg_adi_micro"),
                 F.expr("sum(cv2_micro) div count(*)")
                 .alias("avg_cv2_micro")))


@query("ts_pinball_eval", oracle=f"""
    WITH {_DAILY_TOTAL_SQL},
    tr AS MATERIALIZED (
        SELECT q, row_number() OVER (ORDER BY q, day) AS rn,
               count(*) OVER () AS n
        FROM dt WHERE day < {_SPLIT}
    ),  -- MATERIALIZED: referenced by fc's rank probe

    fc AS (
        SELECT qp, q AS f
        FROM (SELECT unnest([10, 50, 90]) AS qp)
        JOIN tr ON tr.rn = (tr.n * qp + 99) // 100
    )
    SELECT qp, f,
           count(*) AS n_test,
           CAST(sum(CASE WHEN q >= f THEN qp * (q - f)
                         ELSE (100 - qp) * (f - q) END) AS BIGINT)
               AS loss100
    FROM dt CROSS JOIN fc
    WHERE day >= {_SPLIT}
    GROUP BY qp, f
""")
def ts_pinball_eval(spark, sf_dir):
    """Quantile-forecast evaluation: P10/P50/P90 forecasts as EXACT
    k = ceil(q*n) order statistics of the train daily totals (ties
    pinned by day), graded on test days with the pinball (quantile)
    loss scaled x100 to stay integer. The rank window runs over the
    bounded daily aggregate (2405 rows at ANY corpus scale — the
    series length is fixed by the calendar, not the data volume), and
    the 3-row forecast table broadcasts onto the test scan."""
    dt = _daily_total(spark, sf_dir)
    w = Window.orderBy("q", "day")
    tr = (dt.where(F.col("day") < _SPLIT)
          .select("q", F.row_number().over(w).alias("rn"))
          .transform(physical.cut))
    n = tr.count()
    qps = spark.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in (10, 50, 90)])).alias("qp"))
    fc = (qps.join(F.broadcast(tr),
                   F.expr(f"rn = ({n} * qp + 99) div 100"))
          .select("qp", F.col("q").alias("f")))
    te = dt.where(F.col("day") >= _SPLIT)
    loss = (F.when(F.col("q") >= F.col("f"),
                   F.col("qp") * (F.col("q") - F.col("f")))
            .otherwise((100 - F.col("qp")) * (F.col("f") - F.col("q"))))
    return (te.join(F.broadcast(fc))
            .groupBy("qp", "f")
            .agg(F.count("*").alias("n_test"),
                 F.sum(loss).cast("bigint").alias("loss100")))


@query("ts_tracking_signal", oracle=f"""
    WITH {_DAILY_TOTAL_SQL},
    fm AS (
        SELECT day % 7 AS dow, sum(q) * 1000000 // count(*) AS f_micro
        FROM dt WHERE day < {_SPLIT} GROUP BY 1
    ),
    te AS (
        SELECT t.day % 7 AS dow,
               t.q * 1000000 - f.f_micro AS err_micro
        FROM dt t JOIN fm f ON t.day % 7 = f.dow
        WHERE t.day >= {_SPLIT}
    )
    SELECT dow, count(*) AS n_test,
           CAST(sum(err_micro) AS BIGINT) AS cum_err_micro,
           CAST(sum(abs(err_micro)) // count(*) AS BIGINT) AS mad_micro,
           CAST(sum(err_micro) * 1000
                // (sum(abs(err_micro)) // count(*)) AS BIGINT)
               AS ts_milli
    FROM te GROUP BY dow
""")
def ts_tracking_signal(spark, sf_dir):
    """Forecast control chart: per-weekday naive forecast (train mean
    in integer micros; weekday = day-index mod 7, identical on both
    engines by construction), then Trigg's tracking signal on the test
    window — cumulative signed error over MAD, x1000. |TS| beyond
    ~4-6 flags a forecast whose bias has drifted; the per-dow panel
    is 7 groups of map-side-combinable sums. Signed integer division
    truncates toward zero on BOTH engines (pinned repo-wide rule)."""
    dt = _daily_total(spark, sf_dir)
    fm = (dt.where(F.col("day") < _SPLIT)
          .groupBy((F.col("day") % 7).alias("dow"))
          .agg(F.expr("sum(q) * 1000000 div count(*)").alias("f_micro")))
    te = (dt.where(F.col("day") >= _SPLIT)
          .select((F.col("day") % 7).alias("dow"), "q")
          .join(F.broadcast(fm), "dow")
          .select("dow",
                  (F.col("q") * 1000000 - F.col("f_micro"))
                  .alias("err_micro")))
    return (te.groupBy("dow")
            .agg(F.count("*").alias("n_test"),
                 F.sum("err_micro").cast("bigint").alias("cum_err_micro"),
                 F.expr("sum(abs(err_micro)) div count(*)")
                 .cast("bigint").alias("mad_micro"),
                 F.expr("sum(err_micro) * 1000"
                        " div (sum(abs(err_micro)) div count(*))")
                 .cast("bigint").alias("ts_milli")))
