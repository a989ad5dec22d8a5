"""Data-quality / distribution-panel pack (round 5, batch 49):
functional-dependency violation census, conversion-latency quartiles,
a quantile-quantile decile table, and an exact trimmed mean. The
reference engine (294 LoC of Rust delegating to SQLite, reference
src/main.rs) has none of this surface; these are Tier-C mission
operators:

- FD census: does (partkey, quantity) still determine extendedprice?
  Functional dependencies are the schema's unwritten contracts;
  violation counts are the first corruption alarm after any ingest
  (the negative control — partkey alone — is reported beside it so
  a silent always-zero bug cannot hide).
- Time-to-convert: click -> purchase latency quartiles per user —
  the funnel-velocity numbers behind every conversion SLA.
- QQ deciles: nine quantile pairs of click vs view values — the
  table behind a QQ plot, localizing WHERE two distributions
  diverge (KS gives one number; this says "the tails, not the
  body").
- Trimmed mean (10% each side): the classical robust location that
  DROPS tails (contrast winsorize_group, which clamps them) —
  computed exactly from the value histogram, no global row sort.

Determinism contract (SURVEY §4.3): group/violation counts, latency
seconds (floor(epoch) alignment), rank thresholds, and kept-mass
overlaps are exact integers; order statistics are picked by exact
rank from cumulative histogram counts; means are exact-integer
ratios rounded once."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..numerics import wide, wide_sql
from .registry import query
from .relational import T


# ----------------------------------------- functional-dependency census

@query("dq_functional_dependency", oracle="""
    WITH fd1 AS (
        SELECT l_partkey, l_quantity,
               CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS k
        FROM lineitem GROUP BY 1, 2
    ),
    fd2 AS (
        SELECT l_partkey,
               CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS k
        FROM lineitem GROUP BY 1
    )
    SELECT fd, n_groups, n_violating, max_distinct_rhs,
           round(CAST(n_violating AS DOUBLE) / n_groups, 6)
               AS violation_rate
    FROM (
        SELECT 'partkey,quantity->extendedprice' AS fd,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating,
               CAST(max(k) AS BIGINT) AS max_distinct_rhs
        FROM fd1
        UNION ALL
        SELECT 'partkey->extendedprice',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(max(k) AS BIGINT)
        FROM fd2
    ) ORDER BY fd
""")
def dq_functional_dependency(spark, sf_dir):
    """Functional-dependency violation census over two nested
    candidates: (partkey, quantity) -> extendedprice and the strictly
    weaker partkey -> extendedprice. In classic TPC-H the first holds
    exactly (price = quantity * retail); this corpus's generator
    draws prices independently, and the census REPORTS that honestly
    (~27% of (partkey, quantity) groups violate at sf0.01) instead
    of assuming it — which is the operator's whole job: measured
    dependency strength, not schema folklore. Nesting guarantees the
    weaker candidate violates at least as much — the built-in sanity
    invariant the tests pin.

    Distinct-RHS counts per LHS group are exact integers (one
    count(DISTINCT) aggregate per candidate); rates round once.

    Scale shape: two (LHS-keyed) aggregates + 1-row reduces — the
    violating-group drill-down is the same aggregate with HAVING
    k > 1."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    fd1 = (li.groupBy("l_partkey", "l_quantity")
           .agg(F.countDistinct("l_extendedprice").alias("k")))
    fd2 = (li.groupBy("l_partkey")
           .agg(F.countDistinct("l_extendedprice").alias("k")))

    def census(df, name):
        return (df.agg(F.count("*").alias("n_groups"),
                       F.sum(F.when(F.col("k") > 1, 1).otherwise(0))
                       .alias("n_violating"),
                       F.max("k").alias("max_distinct_rhs"))
                .select(F.lit(name).alias("fd"), "n_groups",
                        "n_violating", "max_distinct_rhs"))

    u = census(fd1, "partkey,quantity->extendedprice").unionAll(
        census(fd2, "partkey->extendedprice"))
    return (u.select("fd", "n_groups", "n_violating",
                     "max_distinct_rhs",
                     F.round(F.col("n_violating").cast("double")
                             / F.col("n_groups"), 6)
                     .alias("violation_rate"))
            .orderBy("fd"))


# --------------------------------------------- time-to-convert

@query("events_time_to_convert", oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'click'
                        THEN CAST(floor(epoch(ts)) AS BIGINT) END)
                   AS first_click
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT e.user_id,
               min(CAST(floor(epoch(e.ts)) AS BIGINT))
                   - f.first_click AS lat
        FROM events e JOIN firsts f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase'
          AND CAST(floor(epoch(e.ts)) AS BIGINT) >= f.first_click
        GROUP BY e.user_id, f.first_click
    ),
    ranked AS (
        SELECT lat,
               CAST(row_number() OVER (ORDER BY lat) AS BIGINT) AS rk,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM conv
    )
    SELECT n AS n_converted,
           CAST(max(CASE WHEN rk = CAST(ceil(0.25 * n) AS BIGINT)
                    THEN lat END) AS BIGINT) AS p25_s,
           CAST(max(CASE WHEN rk = CAST(ceil(0.50 * n) AS BIGINT)
                    THEN lat END) AS BIGINT) AS p50_s,
           CAST(max(CASE WHEN rk = CAST(ceil(0.75 * n) AS BIGINT)
                    THEN lat END) AS BIGINT) AS p75_s
    FROM ranked GROUP BY n
""")
def events_time_to_convert(spark, sf_dir):
    """Conversion-latency quartiles: seconds from each user's FIRST
    click to their first purchase at-or-after it, summarized at
    p25/p50/p75 — the funnel-velocity panel behind every conversion
    SLA ("half of converters do so within p50_s"). Users who never
    click or never purchase after clicking drop (the honest
    denominator is CONVERTERS; the conversion RATE is
    stats_two_prop_z's job).

    Latencies are exact integer seconds (floor(epoch) on both
    engines); the quartiles are exact order statistics picked by
    rank = ceil(q*n) from one rank pass over the bounded converter
    set — no interpolation, so the values are actual observed
    latencies.

    Scale shape: two per-user aggregates + one rank pass; at 100 TB
    the rank pass swaps to the latency histogram + prefix counts
    (the stats_qq_deciles shape), documented boundary."""
    ev = T(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.unix_timestamp("ts").alias("s"))
    firsts = (ev.groupBy("user_id")
              .agg(F.min(F.when(F.col("event_type") == "click",
                                F.col("s"))).alias("first_click")))
    conv = (ev.filter(F.col("event_type") == "purchase")
            .join(firsts, "user_id")
            .filter(F.col("s") >= F.col("first_click"))
            .groupBy("user_id", "first_click")
            .agg((F.min("s") - F.col("first_click")).alias("lat")))
    ranked = conv.select(
        "lat",
        F.row_number().over(Window.orderBy("lat")).cast("bigint")
        .alias("rk"),
        F.count("*").over(
            Window.partitionBy(F.lit(1))
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing)).cast("bigint")
        .alias("n"))

    def pick(q):
        return F.max(F.when(
            F.col("rk") == F.ceil(q * F.col("n")).cast("bigint"),
            F.col("lat"))).cast("bigint")

    return (ranked.groupBy("n")
            .agg(pick(0.25).alias("p25_s"),
                 pick(0.50).alias("p50_s"),
                 pick(0.75).alias("p75_s"))
            .select(F.col("n").alias("n_converted"),
                    "p25_s", "p50_s", "p75_s"))


# ------------------------------------------------- QQ deciles

@query("stats_qq_deciles", oracle="""
    WITH v AS (
        SELECT event_type AS grp,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE event_type IN ('click', 'view')
    ),
    vh AS (
        SELECT grp, c, CAST(count(*) AS BIGINT) AS cnt
        FROM v GROUP BY grp, c
    ),
    cum AS (
        SELECT grp, c, cnt,
               CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY c
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm,
               CAST(sum(cnt) OVER (PARTITION BY grp) AS BIGINT) AS n
        FROM vh
    ),
    qs AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS q10),
    picks AS (
        -- rank threshold ceil(q*n/10) computed in EXACT integers:
        -- (q10*n + 9) // 10 (a float 0.1 parses as DECIMAL on DuckDB
        -- but DOUBLE on Spark and the ceil flips by one at exact
        -- multiples)
        SELECT qs.q10, cum.grp, CAST(min(cum.c) AS BIGINT) AS qv
        FROM cum JOIN qs
            ON cum.cm >= (qs.q10 * cum.n + 9) // 10
        GROUP BY qs.q10, cum.grp
    )
    SELECT CAST(a.q10 AS BIGINT) AS q10,
           round(a.qv / 100.0, 2) AS click_q,
           round(b.qv / 100.0, 2) AS view_q,
           round(CAST(a.qv AS DOUBLE) / b.qv, 6) AS qq_ratio
    FROM (SELECT * FROM picks WHERE grp = 'click') a
    JOIN (SELECT * FROM picks WHERE grp = 'view') b
        ON a.q10 = b.q10
    ORDER BY q10
""")
def stats_qq_deciles(spark, sf_dir):
    """Quantile-quantile decile table for click vs view values: the
    nine (q, click_q, view_q) pairs behind a QQ plot, plus their
    ratio — the distribution-comparison primitive that LOCALIZES
    divergence (stats_ks_two_sample says "different"; this says
    "same body, click tail 1.3x heavier"). qq_ratio pinned at 1.0
    across all deciles certifies distributional equality the way no
    single statistic can.

    Each decile is the exact lower order statistic (min c with
    cumulative count >= ceil(q*n)) off per-group cumulative
    histogram counts — integers end to end, no interpolation; the
    per-group histograms are bounded by the value range, never the
    corpus.

    Scale shape: one (group, value) histogram + per-group ordered
    prefix + a 9-row decile-spine join."""
    v = (T(spark, sf_dir, "events")
         .filter(F.col("event_type").isin("click", "view"))
         .select(F.col("event_type").alias("grp"),
                 F.round(F.col("value") * 100).cast("bigint")
                 .alias("c")))
    vh = v.groupBy("grp", "c").agg(F.count("*").alias("cnt"))
    cum = vh.select(
        "grp", "c",
        F.sum("cnt").over(Window.partitionBy("grp").orderBy("c")
                          .rowsBetween(Window.unboundedPreceding, 0))
        .alias("cm"),
        F.sum("cnt").over(Window.partitionBy("grp")).alias("n"))
    qs = spark.range(1, 10).select(F.col("id").cast("int")
                                   .alias("q10"))
    picks = (cum.crossJoin(F.broadcast(qs))
             .filter(F.col("cm")
                     >= F.expr("(q10 * n + 9) DIV 10"))
             .groupBy("q10", "grp").agg(F.min("c").alias("qv")))
    a = (picks.filter(F.col("grp") == "click")
         .select(F.col("q10").alias("qa"), F.col("qv").alias("va")))
    b = (picks.filter(F.col("grp") == "view")
         .select(F.col("q10").alias("qb"), F.col("qv").alias("vb")))
    return (a.join(b, a.qa == b.qb)
            .select(F.col("qa").cast("bigint").alias("q10"),
                    F.round(F.col("va") / 100.0, 2).alias("click_q"),
                    F.round(F.col("vb") / 100.0, 2).alias("view_q"),
                    F.round(F.col("va").cast("double") / F.col("vb"),
                            6).alias("qq_ratio"))
            .orderBy("q10"))


# ------------------------------------------------ trimmed mean

@query("agg_trimmed_mean", oracle=f"""
    WITH v AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
        FROM orders
    ),
    vh AS (SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY c),
    cum AS (
        SELECT c, cnt,
               CAST(sum(cnt) OVER (ORDER BY c
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm,
               CAST(sum(cnt) OVER () AS BIGINT) AS n
        FROM vh
    ),
    kept AS (
        SELECT c, n,
               least(cm, n - (n // 10))
               - greatest(cm - cnt, n // 10) AS keep
        FROM cum
        WHERE least(cm, n - (n // 10))
              > greatest(cm - cnt, n // 10)
    )
    SELECT max(n) AS n,
           max(n) // 10 AS n_trimmed_each,
           round({wide_sql('sum(c * keep)')}
                 / (CAST(max(n) - 2 * (max(n) // 10) AS DOUBLE))
                 / 100.0, 4) AS trimmed_mean,
           round((SELECT {wide_sql(f'sum({wide_sql("c")} * cnt)')}
                  FROM vh) / (CAST(max(n) AS DOUBLE)) / 100.0, 4)
               AS raw_mean
    FROM kept
""")
def agg_trimmed_mean(spark, sf_dir):
    """10%-trimmed mean of order totals: drop the lowest and highest
    floor(n/10) observations BY RANK and average the middle 80% —
    the classical robust location that discards tails outright where
    winsorize_group clamps them (trimming is the right call when
    tail values are suspected junk, clamping when they are real but
    extreme). The raw mean rides along to show what the tails were
    doing to it.

    No global row sort: the kept mass per histogram bucket is the
    exact interval overlap of the bucket's rank range (cm-cnt, cm]
    with the kept range (n/10, n - n/10] — pure integer min/max
    algebra off one cumulative pass over the bounded value
    histogram; the trimmed sum is an exact HUGEINT/DECIMAL(38,0)
    weighted sum.

    Scale shape: one value histogram + one ordered prefix pass +
    1-row reduce."""
    v = T(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"))
    vh = v.groupBy("c").agg(F.count("*").alias("cnt"))
    cum = vh.select(
        "c", "cnt",
        F.sum("cnt").over(Window.orderBy("c")
                          .rowsBetween(Window.unboundedPreceding, 0))
        .alias("cm"),
        F.sum("cnt").over(
            Window.partitionBy(F.lit(1))
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing)).alias("n"))
    lo = F.expr("n DIV 10")
    kept = (cum.select(
        "c", "n",
        (F.least(F.col("cm"), F.col("n") - lo)
         - F.greatest(F.col("cm") - F.col("cnt"), lo)).alias("keep"))
        .filter(F.col("keep") > 0))
    raw = vh.agg(F.sum(wide("c") * F.col("cnt"))
                 .alias("rawsum"))
    st = (kept.agg(F.max("n").alias("n"),
                   F.sum(wide("c") * F.col("keep"))
                   .alias("ksum"))
          .crossJoin(F.broadcast(raw)))
    return st.select(
        "n",
        F.expr("n DIV 10").alias("n_trimmed_each"),
        F.round(F.col("ksum").cast("double")
                / (F.col("n") - 2 * F.expr("n DIV 10"))
                .cast("double") / 100.0, 4).alias("trimmed_mean"),
        F.round(F.col("rawsum").cast("double")
                / F.col("n").cast("double") / 100.0, 4)
        .alias("raw_mean"))
