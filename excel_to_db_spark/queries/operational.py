"""Operational data-engineering pack (Tier B/C extensions).

MERGE-style CDC application, rolling-window distinct users, and
last-touch attribution — the operational jobs that surround a warehouse
(the reference's passthrough surface, src/main.rs:220, reaches the same
semantics through SQLite SQL; here each is a declarative Spark plan
with scale-invariant shuffle structure).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..numerics import (
    comoment, comoment_sql, wide, wide_quot, wide_quot_sql, wide_sql)
from .registry import query
from .relational import T


# ---------------------------------------------------------- CDC merge

@query("cdc_merge_upsert", oracle="""
    WITH changes AS (
        SELECT c_custkey AS key,
               CASE WHEN c_custkey % 17 = 0 THEN 'D'
                    ELSE 'U' END AS op,
               round(c_acctbal + 100.0, 2) AS new_acctbal,
               'UPGRADED' AS new_segment
        FROM customer WHERE c_custkey % 10 = 0 OR c_custkey % 17 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'I', round(c_acctbal, 2), 'FRESH'
        FROM customer WHERE c_custkey % 97 = 0
    )
    SELECT coalesce(ch.key, c_custkey) AS c_custkey,
           CASE WHEN ch.op IN ('U', 'I') THEN ch.new_acctbal
                ELSE round(c_acctbal, 2) END AS c_acctbal,
           CASE WHEN ch.op IN ('U', 'I') THEN ch.new_segment
                ELSE c_mktsegment END AS c_mktsegment
    FROM customer
    FULL JOIN changes ch ON c_custkey = ch.key
    WHERE ch.op IS NULL OR ch.op <> 'D'
""")
def cdc_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics on plain parquet: apply a CDC batch of
    updates, inserts, and deletes to a snapshot in one declarative
    pass — full-outer join on the key, change side wins, deletes drop.

    This is the lakehouse upsert expressed without a table format:
    matched-update / not-matched-insert / matched-delete all resolve in
    a single join whose key is the natural co-partitioning (at scale,
    both sides hash-shuffle once on the key; a small CDC batch
    broadcasts instead). The change batch is derived deterministically
    from the snapshot itself so the oracle replays it bit-for-bit."""
    c = T(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    upserts = (c.filter((k % 10 == 0) | (k % 17 == 0))
               .select(k.alias("key"),
                       F.when(k % 17 == 0, "D").otherwise("U").alias("op"),
                       F.round(F.col("c_acctbal") + 100.0, 2)
                        .alias("new_acctbal"),
                       F.lit("UPGRADED").alias("new_segment")))
    inserts = (c.filter(k % 97 == 0)
               .select((k + 1000000).alias("key"), F.lit("I").alias("op"),
                       F.round("c_acctbal", 2).alias("new_acctbal"),
                       F.lit("FRESH").alias("new_segment")))
    changes = upserts.unionAll(inserts)
    base = c.select("c_custkey", "c_acctbal", "c_mktsegment")
    merged = base.join(changes, base.c_custkey == changes.key, "full_outer")
    applied = F.col("op").isin("U", "I")
    return (merged.filter(F.col("op").isNull() | (F.col("op") != "D"))
            .select(F.coalesce("key", "c_custkey").alias("c_custkey"),
                    F.when(applied, F.col("new_acctbal"))
                     .otherwise(F.round("c_acctbal", 2)).alias("c_acctbal"),
                    F.when(applied, F.col("new_segment"))
                     .otherwise(F.col("c_mktsegment")).alias("c_mktsegment")))


# --------------------------------------------------------- rolling WAU

@query("rolling_wau", oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    contrib AS (
        SELECT CAST(unnest(generate_series(day, day + 6,
                                           INTERVAL 1 DAY)) AS DATE) AS day,
               user_id
        FROM du
    ),
    bounds AS (SELECT max(day) AS max_day FROM du)
    SELECT day, count(DISTINCT user_id) AS wau
    FROM contrib, bounds
    WHERE day <= max_day
    GROUP BY day
""")
def rolling_wau(spark, sf_dir):
    """Rolling 7-day active users per day (WAU) — distinct-count over a
    sliding date window.

    The scalable shape: dedup to (day, user) pairs, then EXPLODE each
    pair into the <=7 report days it contributes to and count distinct
    per day — bounded 7x fan-out of the already-deduped pairs, one
    shuffle. The naive alternative (range-join every day against every
    pair) is a nested-loop that dies at scale; a distinct-count window
    frame doesn't exist in either engine. Tail days beyond the last
    observation are clipped."""
    e = T(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    contrib = du.select(
        F.explode(F.sequence("day", F.date_add("day", 6))).alias("day"),
        "user_id")
    bounds = du.agg(F.max("day").alias("max_day"))
    return (contrib.crossJoin(F.broadcast(bounds))
            .filter(F.col("day") <= F.col("max_day"))
            .groupBy("day")
            .agg(F.countDistinct("user_id").alias("wau")))


# -------------------------------------------------- last-touch model

@query("attribution_last_touch", oracle="""
    WITH seq AS (
        SELECT event_id, event_type,
               last_value(CASE WHEN event_type = 'click' THEN event_id END
                          IGNORE NULLS) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS click_id
        FROM events
    )
    SELECT event_id AS purchase_id, click_id
    FROM seq WHERE event_type = 'purchase'
""")
def attribution_last_touch(spark, sf_dir):
    """Last-touch attribution: each purchase is credited to the same
    user's most recent preceding click (NULL if the user never clicked
    before buying).

    A single IGNORE NULLS carry-forward window does the whole model —
    no purchase x click self-join, one user_id shuffle, and the carried
    state is one value per row regardless of history length. (The
    purchase filter can't be pushed below the window — every event must
    flow through to carry the click — which is exactly the streaming
    carry-forward shape.)"""
    e = T(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    click = F.when(F.col("event_type") == "click", F.col("event_id"))
    seq = e.select(
        "event_id", "event_type",
        F.last(click, ignorenulls=True).over(w).alias("click_id"))
    return (seq.filter(F.col("event_type") == "purchase")
            .select(F.col("event_id").alias("purchase_id"), "click_id"))


# ---------------------------------------------- bot-regularity heuristics

@query("events_bot_heuristics", oracle=f"""
    WITH g AS (
        SELECT user_id,
               CAST(epoch_us(ts) AS BIGINT)
               - lag(CAST(epoch_us(ts) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events
    ),
    u AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(gap) AS BIGINT) AS s,
               sum({wide_sql('gap')} * gap) AS ss
        FROM g WHERE gap IS NOT NULL GROUP BY user_id
    ),
    sc AS (
        SELECT user_id, n,
               CASE WHEN s = 0 THEN CAST(0 AS BIGINT)
                    ELSE {wide_quot_sql(
                        f"1000000 * {comoment_sql('n', 'ss', 's', 's')}",
                        f"{wide_sql('s')} * s")}
               END AS cv2_micro
        FROM u WHERE n >= 20
    )
    SELECT CAST((SELECT count(*) FROM u) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_scored,
           CAST(sum(CASE WHEN cv2_micro < 10000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bot_like,
           CAST(min(cv2_micro) AS BIGINT) AS min_cv2_micro
    FROM sc
""")
def events_bot_heuristics(spark, sf_dir):
    """Bot-likeness census from inter-event timing regularity: a human
    user's gaps between consecutive events are bursty (squared
    coefficient of variation cv^2 = var/mean^2 near or above 1); a
    scripted client fires on a timer (cv^2 near 0). Scores every user
    with >= 20 gaps and flags cv^2 < 0.01 — the first-line abuse signal
    a telemetry pipeline computes before any model-based detection.

    Exactness: gaps are exact epoch-microsecond BIGINT differences;
    cv^2 = (n*ss - s^2)/s^2 is formed from exact integer moments in
    DECIMAL(38,0)/HUGEINT (s^2 alone overflows int64 for active users)
    and reported in integer micro-units via floor division — no float
    exists anywhere in the statistic. A user whose >= 20 gaps are ALL
    zero (batch uploads sharing one timestamp) is the limit case of
    regularity: cv^2 is defined as 0 there, flagging it, rather than
    dividing by s = 0 or silently dropping the strongest bot signal.

    Scale shape: one user-partitioned lag window (the shuffle any
    sessionization already pays), a per-user moment aggregate, then a
    scalar census. Moments bound: the scored numerator is
    1e6 * n * ss ~ 1e6 * n^2 * gap^2, inside DECIMAL(38,0) up to
    ~3e5 gaps/user at day-scale gaps (and ~1e8 at minute-scale) —
    beyond that, rescale gaps to milliseconds before the moments (the
    statistic is scale-invariant)."""
    e = T(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select("user_id",
                 (F.unix_micros(F.col("ts"))
                  - F.lag(F.unix_micros(F.col("ts"))).over(w)).alias("gap"))
    u = (g.filter(F.col("gap").isNotNull())
         .groupBy("user_id")
         .agg(F.count("*").alias("n"),
              F.sum("gap").alias("s"),
              F.sum(wide("gap") * F.col("gap")).alias("ss")))
    sc = (u.filter(F.col("n") >= 20)
          .select("user_id", "n",
                  F.when(F.col("s") == 0, F.lit(0).cast("bigint"))
                  .otherwise(wide_quot(
                      F.lit(1000000) * comoment("n", "ss", "s", "s"),
                      wide("s") * F.col("s")))
                  .alias("cv2_micro")))
    n_users = u.agg(F.count("*").alias("n_users"))
    return (sc.agg(F.count("*").alias("n_scored"),
                   F.sum(F.when(F.col("cv2_micro") < 10000, 1).otherwise(0))
                   .cast("bigint").alias("n_bot_like"),
                   F.min("cv2_micro").alias("min_cv2_micro"))
            .crossJoin(F.broadcast(n_users))
            .select("n_users", "n_scored", "n_bot_like", "min_cv2_micro"))


# --------------------------------- Markov removal-effect attribution

_MARKOV_ROUNDS = 6

_MARKOV_EDGE_SQL = """
    ev AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    fc AS (
        SELECT user_id, min(rn) AS conv_rn FROM ev
        WHERE event_type = 'purchase' GROUP BY user_id
    ),
    j AS (
        SELECT e.user_id,
               CASE WHEN e.event_type = 'purchase' THEN 'CONV'
                    ELSE e.event_type END AS state,
               e.rn
        FROM ev e LEFT JOIN fc ON e.user_id = fc.user_id
        WHERE fc.conv_rn IS NULL OR e.rn <= fc.conv_rn
    ),
    hops AS (
        SELECT user_id, state,
               lead(state) OVER (PARTITION BY user_id ORDER BY rn)
                   AS nxt,
               rn
        FROM j
    ),
    raw_edges AS (
        SELECT 'START' AS from_s, state AS to_s FROM hops WHERE rn = 1
        UNION ALL
        SELECT state, COALESCE(nxt, 'END') FROM hops
        WHERE state <> 'CONV'
    ),
    froms AS (SELECT DISTINCT from_s FROM raw_edges),
    redir AS (
        SELECT from_s,
               CASE WHEN to_s IN ('CONV', 'END') THEN to_s
                    WHEN to_s IN (SELECT from_s FROM froms) THEN to_s
                    ELSE 'END' END AS to_s
        FROM raw_edges
    ),
    cnt AS (
        SELECT from_s, to_s, CAST(count(*) AS BIGINT) AS c
        FROM redir GROUP BY 1, 2
    ),
    tots AS (
        SELECT from_s, CAST(sum(c) AS BIGINT) AS tot FROM cnt GROUP BY 1
    ),
    base_edges AS (
        SELECT cnt.from_s, cnt.to_s, (c * 1000000) // tot AS w
        FROM cnt JOIN tots USING (from_s)
    ),
    chans AS (
        SELECT from_s AS chan FROM froms WHERE from_s <> 'START'
    ),
    edges AS MATERIALIZED (
        SELECT 'base' AS scen, from_s, to_s, w FROM base_edges
        UNION ALL
        SELECT c.chan, e.from_s,
               CASE WHEN e.to_s = c.chan THEN 'END' ELSE e.to_s END,
               e.w
        FROM base_edges e CROSS JOIN chans c
        WHERE e.from_s <> c.chan
    ),
    v0 AS MATERIALIZED (
        SELECT scen, 'START' AS state, CAST(1000000 AS BIGINT) AS p
        FROM (SELECT 'base' AS scen UNION ALL SELECT chan FROM chans)
    ),
"""

_MARKOV_ROUND_SQL = """
    v{r} AS MATERIALIZED (
        SELECT scen, state, CAST(sum(p) AS BIGINT) AS p FROM (
            SELECT scen, state, p FROM v{p}
            WHERE state IN ('CONV', 'END')
            UNION ALL
            SELECT e.scen, e.to_s AS state, (v.p * e.w) // 1000000 AS p
            FROM v{p} v JOIN edges e
              ON e.scen = v.scen AND e.from_s = v.state
        ) GROUP BY scen, state
    ),
"""

_MARKOV_ORACLE = (
    "    WITH " + _MARKOV_EDGE_SQL.strip()
    + "".join(_MARKOV_ROUND_SQL.format(r=r, p=r - 1)
              for r in range(1, _MARKOV_ROUNDS + 1)).rstrip().rstrip(",")
    + f"""
    ,
    pc AS (
        SELECT scen, CAST(COALESCE(max(CASE WHEN state = 'CONV'
                                            THEN p END), 0) AS BIGINT)
                   AS p_conv_micro
        FROM v{_MARKOV_ROUNDS} GROUP BY scen
    ),
    base AS (SELECT p_conv_micro AS pb FROM pc WHERE scen = 'base')
    SELECT scen AS channel, p_conv_micro,
           CASE WHEN scen = 'base' THEN CAST(NULL AS BIGINT)
                ELSE ((pb - p_conv_micro) * 1000000) // pb
           END AS removal_effect_micro
    FROM pc, base
""")


@query("attribution_markov_removal", oracle=_MARKOV_ORACLE)
def attribution_markov_removal(spark, sf_dir):
    """Markov-chain removal-effect attribution (Anderl et al. 2016) —
    the algorithmic upgrade over `attribution_last_touch` /
    `attribution_position`: model user journeys as a first-order
    Markov chain (states = event types, absorbing CONV at the first
    purchase, END otherwise), then credit each channel by how much
    the 6-step conversion probability DROPS when that channel's node
    is removed (its inbound edges redirected to END) — channels that
    merely co-occur get no credit; channels journeys actually route
    through do.

    Exactness: transition probabilities are integer-DIV micro-units
    from exact counts; each value-iteration round multiplies and
    re-truncates in integer space ((p * w) DIV 1e6 per edge — snap
    THEN sum, the SURVEY §4.3 rule applied to a fixpoint iteration),
    so all 5 scenario chains are hash-identical across engines.
    Dangling 'to' states redirect to END at edge-build so mass is
    conserved. Distributed shape: journeys cost one user-window pass
    (the shuffle sessionization already pays); the chain itself is
    O(states^2 x scenarios) rows — value iteration joins a <= 35-row
    vector against a <= 150-row edge table per round, with the
    corpus never re-read. The oracle unrolls the same 6 rounds as
    MATERIALIZED CTEs."""
    from ..tables import load_table

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ev = e.withColumn("rn", F.row_number().over(w))
    fc = (ev.filter(F.col("event_type") == "purchase")
          .groupBy("user_id").agg(F.min("rn").alias("conv_rn")))
    j = (ev.join(fc, "user_id", "left")
         .filter(F.col("conv_rn").isNull()
                 | (F.col("rn") <= F.col("conv_rn")))
         .select("user_id",
                 F.when(F.col("event_type") == "purchase", "CONV")
                 .otherwise(F.col("event_type")).alias("state"), "rn"))
    hops = j.withColumn(
        "nxt", F.lead("state").over(
            W.partitionBy("user_id").orderBy("rn")))
    raw = (hops.filter(F.col("rn") == 1)
           .select(F.lit("START").alias("from_s"),
                   F.col("state").alias("to_s"))
           .unionByName(
               hops.filter(F.col("state") != "CONV")
               .select(F.col("state").alias("from_s"),
                       F.coalesce(F.col("nxt"), F.lit("END"))
                       .alias("to_s"))))
    froms = raw.select("from_s").distinct()
    redir = (raw.join(F.broadcast(froms.withColumnRenamed(
                 "from_s", "to_s").withColumn("known", F.lit(1))),
                 "to_s", "left")
             .select("from_s",
                     F.when(F.col("to_s").isin("CONV", "END"),
                            F.col("to_s"))
                     .when(F.col("known") == 1, F.col("to_s"))
                     .otherwise("END").alias("to_s")))
    cnt = redir.groupBy("from_s", "to_s").agg(F.count("*").alias("c"))
    tots = cnt.groupBy("from_s").agg(F.sum("c").alias("tot"))
    base_edges = (cnt.join(F.broadcast(tots), "from_s")
                  .select("from_s", "to_s",
                          F.expr("(c * 1000000) DIV tot").alias("w")))
    # r11 (guide §2/§5): the transition model is bounded by the
    # EVENT-TYPE VOCABULARY (<= 7 states incl. START/CONV/END), not
    # the corpus — O(states^2) edges whatever the scale. The former
    # distributed value iteration ran 6 rounds x 5 scenarios of
    # <=900-row joins as full shuffle jobs (12+ tiny stages measured
    # dominating the sf0.1 wall). Collecting the MODEL-sized edge
    # table (the `gramian_int(...).collect()` precedent: bounded by
    # dimension, never by data) and iterating in arbitrary-precision
    # Python integers is hash-identical: same per-edge
    # (p * w) DIV 1e6 snap-then-sum, same inner-join drop of dangling
    # states, and _idiv replicates BIGINT DIV's truncation toward
    # zero (operands here are non-negative except the final removal
    # numerator, where // would floor instead).
    def _idiv(a: int, b: int) -> int:
        q = abs(a) // b
        return q if a >= 0 else -q

    erows = [(r[0], r[1], int(r[2])) for r in base_edges.collect()]
    chans = sorted({f for f, _, _ in erows if f != "START"})

    def _p_conv(removed: str | None) -> int:
        emap: dict[str, list[tuple[str, int]]] = {}
        for f, t, wt in erows:
            if removed is not None:
                if f == removed:
                    continue
                if t == removed:
                    t = "END"
            emap.setdefault(f, []).append((t, wt))
        v = {"START": 1_000_000}
        for _ in range(_MARKOV_ROUNDS):
            nv: dict[str, int] = {}
            for st, p in v.items():
                if st in ("CONV", "END"):
                    nv[st] = nv.get(st, 0) + p
                else:
                    for t, wt in emap.get(st, ()):
                        nv[t] = nv.get(t, 0) + (p * wt) // 1_000_000
            v = nv
        return v.get("CONV", 0)

    pb = _p_conv(None)
    out = [("base", pb, None)]
    out += [(c, pc,
             _idiv((pb - pc) * 1_000_000, pb) if pb else None)
            for c in chans for pc in (_p_conv(c),)]
    return spark.createDataFrame(
        out, "channel string, p_conv_micro bigint, "
             "removal_effect_micro bigint")
