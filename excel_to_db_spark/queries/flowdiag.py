"""Flow-diagnostics pack (round 5, batch 46): a streaming Apdex twin,
heartbeat-gap (silence) detection, a rolling regression beta, and
exact Shapley-value channel attribution. The reference engine (294
LoC of Rust delegating to SQLite, reference src/main.rs) has none of
this surface; these are Tier-C mission operators:

- stream_apdex: the SLA score maintained incrementally by Structured
  Streaming (3 scalars per service) — complete-mode replay equals
  the batch key, so ops_apdex's oracle verifies the streaming state
  (the stream_ohlc_candles protocol).
- Heartbeat gaps: per-stream silence detection — gaps > 3x that
  stream's own mean inter-arrival, decided in EXACT integer
  arithmetic (gap * n_gaps > 3 * total_gap), the pager rule that
  needs no tuned threshold.
- Rolling beta: the 7-day trailing OLS slope of purchase-on-click
  revenue — the time-varying-exposure readout rolling correlation
  (window_rolling_corr) cannot give (corr has no units; beta is
  dollars per dollar).
- Shapley attribution (Shapley 1953; data-driven MTA form): the
  axiomatically fair split of conversions across the 3 touch
  channels — exact over the 2^3 coalition lattice, the principled
  counterpart to the repo's heuristic last-touch/position keys and
  Markov removal effects.

Determinism contract (SURVEY §4.3): gaps, rolling sums, masks, and
coalition counts are exact integers (rolling sums in pinned window
frames, DECIMAL(38,0)/HUGEINT cross products); Shapley weights are
exact rational literals (1/3, 1/6); every output ratio rounds once."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..numerics import comoment, wide, wide_sql
from .registry import query
from .relational import T

# Shared Apdex oracle shape (ops_apdex's contract, reused by the
# streaming twin — one definition of truth for both engines).
_APDEX_ORACLE = """
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
"""


@query("stream_apdex", oracle=_APDEX_ORACLE)
def stream_apdex(spark, sf_dir):
    """Streaming twin of `ops_apdex`: per-service Apdex counters
    maintained by the Structured Streaming engine over a file-source
    replay of the events table (see streaming/windows.py:
    run_stream_apdex for the 3-scalars-per-group state argument).
    The batch SQL oracle checks the streaming state value-for-value —
    complete-mode emission over a finite replay equals the batch
    aggregate."""
    from ..streaming.windows import run_stream_apdex

    return run_stream_apdex(spark, sf_dir)


# ------------------------------------------- heartbeat gap detection

@query("events_heartbeat_gaps", oracle="""
    WITH seq AS (
        SELECT event_type AS stream,
               CAST(floor(epoch(ts)) AS BIGINT) AS s,
               lag(CAST(floor(epoch(ts)) AS BIGINT))
                   OVER (PARTITION BY event_type
                         ORDER BY ts, event_id) AS prev_s
        FROM events
    ),
    gaps AS (
        SELECT stream, s - prev_s AS gap
        FROM seq WHERE prev_s IS NOT NULL
    ),
    st AS (
        SELECT stream,
               CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(sum(gap) AS BIGINT) AS total_gap,
               CAST(max(gap) AS BIGINT) AS max_gap_s
        FROM gaps GROUP BY stream
    ),
    flags AS (
        SELECT g.stream,
               CAST(sum(CASE WHEN g.gap * st.n_gaps
                                  > 3 * st.total_gap
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_silent
        FROM gaps g JOIN st ON g.stream = st.stream
        GROUP BY g.stream
    )
    SELECT st.stream, st.n_gaps, st.max_gap_s,
           round(CAST(st.total_gap AS DOUBLE) / st.n_gaps, 2)
               AS mean_gap_s,
           flags.n_silent
    FROM st JOIN flags ON st.stream = flags.stream
""")
def events_heartbeat_gaps(spark, sf_dir):
    """Heartbeat silence detection per event stream: flag every
    inter-arrival gap longer than 3x that stream's OWN mean gap —
    the self-calibrating pager rule (a fixed threshold would be wrong
    for both the chatty click stream and the sparse signup stream at
    once). Reports the flagged count, the worst silence, and the
    calibration mean.

    Gap seconds come from floor(epoch) on both engines (the verify
    gotcha: DuckDB epoch() is fractional DOUBLE, Spark
    unix_timestamp floors — floor() aligns them); the 3x-mean flag is
    decided in EXACT integer arithmetic (gap * n_gaps > 3 *
    total_gap — no float enters the comparison), so the census can
    never flake on a boundary gap.

    Scale shape: one per-stream lag window (partitioned — parallel)
    + two bounded aggregates."""
    seq = T(spark, sf_dir, "events").select(
        F.col("event_type").alias("stream"),
        F.unix_timestamp("ts").alias("s"),
        F.col("ts"), F.col("event_id"))
    w = Window.partitionBy("stream").orderBy("ts", "event_id")
    gaps = (seq.select("stream",
                       (F.col("s") - F.lag("s").over(w)).alias("gap"))
            .filter(F.col("gap").isNotNull()))
    st = gaps.groupBy("stream").agg(
        F.count("*").alias("n_gaps"),
        F.sum("gap").alias("total_gap"),
        F.max("gap").alias("max_gap_s"))
    flags = (gaps.join(st, "stream")
             .groupBy("stream")
             .agg(F.sum(F.when(F.col("gap") * F.col("n_gaps")
                               > 3 * F.col("total_gap"), 1)
                        .otherwise(0)).alias("n_silent")))
    return (st.join(flags, "stream")
            .select("stream", "n_gaps", "max_gap_s",
                    F.round(F.col("total_gap").cast("double")
                            / F.col("n_gaps"), 2).alias("mean_gap_s"),
                    "n_silent"))


# ------------------------------------------------- rolling beta

@query("window_rolling_beta", oracle=f"""
    WITH day AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               CAST(sum(CASE WHEN event_type = 'click'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    rolled AS (
        SELECT d,
               CAST(count(*) OVER w AS BIGINT) AS k,
               {wide_sql('sum(x) OVER w')} AS sx,
               {wide_sql('sum(y) OVER w')} AS sy,
               sum({wide_sql('x')} * x) OVER w AS sxx,
               sum({wide_sql('x')} * y) OVER w AS sxy
        FROM day
        WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING
                     AND CURRENT ROW)
    )
    SELECT d AS day,
           round(CAST(7 * sxy - sx * sy AS DOUBLE)
                 / CAST(7 * sxx - sx * sx AS DOUBLE), 6) AS beta7
    FROM rolled WHERE k = 7
""")
def window_rolling_beta(spark, sf_dir):
    """7-day trailing OLS beta of daily purchase revenue on daily
    click revenue: the time-varying exposure estimate — "this week, a
    marginal click dollar moved purchases by beta dollars" — which
    the repo's window_rolling_corr cannot provide (correlation is
    unitless; beta carries the dollar-per-dollar slope). Emitted only
    for complete 7-day windows.

    The rolling sums accumulate exact integers in pinned ROWS frames
    (HUGEINT/DECIMAL(38,0) for the cross products); each day's beta
    is one float division of exact integers via the k-multiplied
    centered form 7*Sxy - SxSy over 7*Sxx - Sx^2 — bit-identical on
    both engines before the 6dp round.

    Scale shape: day-spine collapse + ONE ordered window pass over
    the calendar-bounded series."""
    day = (T(spark, sf_dir, "events")
           .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
           .agg(F.sum(F.when(F.col("event_type") == "click",
                             F.round(F.col("value") * 100)
                             .cast("bigint")).otherwise(0)).alias("x"),
                F.sum(F.when(F.col("event_type") == "purchase",
                             F.round(F.col("value") * 100)
                             .cast("bigint")).otherwise(0))
                .alias("y")))
    w = Window.orderBy("d").rowsBetween(-6, 0)
    rolled = day.select(
        "d",
        F.count("*").over(w).alias("k"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(wide("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(wide("x") * F.col("y")).over(w).alias("sxy"))
    return (rolled.filter(F.col("k") == 7)
            .select(F.col("d").alias("day"),
                    F.round(comoment(F.lit(7), "sxy", "sx", "sy")
                            .cast("double")
                            / comoment(F.lit(7), "sxx", "sx", "sx")
                            .cast("double"), 6).alias("beta7")))


# --------------------------------------------- Shapley attribution

@query("attribution_shapley", oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                        END) AS BIGINT)
               + 2 * CAST(max(CASE WHEN event_type = 'view' THEN 1
                              ELSE 0 END) AS BIGINT)
               + 4 * CAST(max(CASE WHEN event_type = 'signup' THEN 1
                              ELSE 0 END) AS BIGINT) AS mask,
               CAST(max(CASE WHEN event_type = 'purchase' THEN 1
                        ELSE 0 END) AS BIGINT) AS conv
        FROM events GROUP BY user_id
    ),
    vv AS (
        -- V(S) = converted users whose touched set is CONTAINED in S
        SELECT s.smask,
               CAST(sum(CASE WHEN (p.mask & (7 - s.smask)) = 0
                             THEN p.conv ELSE 0 END) AS BIGINT) AS v
        FROM per_user p
        CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7]) AS smask) s
        GROUP BY s.smask
    ),
    piv AS (
        SELECT max(CASE WHEN smask = 0 THEN v END) AS v0,
               max(CASE WHEN smask = 1 THEN v END) AS v1,
               max(CASE WHEN smask = 2 THEN v END) AS v2,
               max(CASE WHEN smask = 3 THEN v END) AS v3,
               max(CASE WHEN smask = 4 THEN v END) AS v4,
               max(CASE WHEN smask = 5 THEN v END) AS v5,
               max(CASE WHEN smask = 6 THEN v END) AS v6,
               max(CASE WHEN smask = 7 THEN v END) AS v7
        FROM vv
    )
    SELECT channel, round(phi, 4) AS phi_conversions,
           round(phi / (SELECT v7 - v0 FROM piv), 6) AS phi_share
    FROM (
        SELECT 'click' AS channel,
               (v1 - v0) / 3.0 + (v3 - v2) / 6.0 + (v5 - v4) / 6.0
               + (v7 - v6) / 3.0 AS phi
        FROM piv
        UNION ALL
        SELECT 'view',
               (v2 - v0) / 3.0 + (v3 - v1) / 6.0 + (v6 - v4) / 6.0
               + (v7 - v5) / 3.0
        FROM piv
        UNION ALL
        SELECT 'signup',
               (v4 - v0) / 3.0 + (v5 - v1) / 6.0 + (v6 - v2) / 6.0
               + (v7 - v3) / 3.0
        FROM piv
    ) ORDER BY channel
""")
def attribution_shapley(spark, sf_dir):
    """Exact Shapley-value attribution of purchase conversions across
    the click/view/signup touch channels (Shapley 1953; the
    data-driven MTA coalition form): V(S) = conversions among users
    whose touched-channel set is contained in S, and each channel's
    phi sums its weighted marginals over the 2^2 subsets of the other
    channels with the exact weights |S|!(3-|S|-1)!/3! = 1/3, 1/6,
    1/6, 1/3. Unlike the repo's last-touch/position heuristics or
    the Markov removal effects, Shapley is the unique split
    satisfying efficiency + symmetry + dummy — and over 3 channels it
    is EXACTLY computable (the lattice is 8 coalition values, each
    one exact integer count).

    Per-user masks and conversions come from one user collapse; the
    8 V(S) values from one bounded mask-containment aggregate
    ((mask & ~S) = 0 — pure bitwise integers); phi is a fixed
    rational expression over the 8 integers. Efficiency (sum phi =
    V(full) - V(empty)) is asserted in tests. phi_share normalizes
    by attributable conversions.

    Scale shape: one per-user aggregate + an 8-subset broadcast
    grid + a 1-row pivot — channels beyond ~10 need the sampled
    approximation, documented here as the boundary."""
    per_user = (T(spark, sf_dir, "events")
                .groupBy("user_id")
                .agg((F.max(F.when(F.col("event_type") == "click", 1)
                            .otherwise(0))
                      + 2 * F.max(F.when(F.col("event_type") == "view",
                                         1).otherwise(0))
                      + 4 * F.max(F.when(F.col("event_type")
                                         == "signup", 1).otherwise(0)))
                     .cast("bigint").alias("mask"),
                     F.max(F.when(F.col("event_type") == "purchase", 1)
                           .otherwise(0)).cast("bigint").alias("conv")))
    smasks = spark.range(8).select(F.col("id").cast("bigint")
                                   .alias("smask"))
    vv = (per_user.crossJoin(F.broadcast(smasks))
          .groupBy("smask")
          .agg(F.sum(F.when(F.col("mask").bitwiseAND(
              F.lit(7) - F.col("smask")) == 0,
              F.col("conv")).otherwise(0)).alias("v")))
    piv = vv.agg(*[F.max(F.when(F.col("smask") == i, F.col("v")))
                   .alias(f"v{i}") for i in range(8)])
    v = {i: F.col(f"v{i}") for i in range(8)}
    phis = {
        "click": ((v[1] - v[0]) / 3.0 + (v[3] - v[2]) / 6.0
                  + (v[5] - v[4]) / 6.0 + (v[7] - v[6]) / 3.0),
        "view": ((v[2] - v[0]) / 3.0 + (v[3] - v[1]) / 6.0
                 + (v[6] - v[4]) / 6.0 + (v[7] - v[5]) / 3.0),
        "signup": ((v[4] - v[0]) / 3.0 + (v[5] - v[1]) / 6.0
                   + (v[6] - v[2]) / 6.0 + (v[7] - v[3]) / 3.0),
    }
    rows = None
    for ch in ("click", "signup", "view"):
        r = piv.select(F.lit(ch).alias("channel"),
                       F.round(phis[ch], 4).alias("phi_conversions"),
                       F.round(phis[ch] / (v[7] - v[0]), 6)
                       .alias("phi_share"))
        rows = r if rows is None else rows.unionAll(r)
    return rows.orderBy("channel")
