"""Sketch-algebra / in-engine-ML pack (round 5, batch 43): KMV
Jaccard estimation, a Bloom-filter false-positive audit, linear
probabilistic counting, and two-step Newton logistic regression. The
reference engine (294 LoC of Rust delegating to SQLite, reference
src/main.rs) has none of this surface; these are Tier-C mission
operators — the sketch/approximate family's set-RELATION extension
(the repo's sketch_kmv_distinct / sketch_ams_f2 / hll_mergeable
cover single-set cardinalities; these keys cover set OVERLAP and the
model-fit path):

- KMV Jaccard (Beyer et al. 2007): resemblance between two sets from
  their k-minimum-value sketches — |K(A u B) n K_A n K_B| / k — the
  mergeable sketch behind large-scale dedup candidate scoring.
- Bloom FPR audit: MEASURED false-positive rate of an (m, k) Bloom
  filter vs the (1 - e^{-kn/m})^k theory curve — the check that keeps
  join-pruning filters honestly sized.
- Linear counting (Whang et al. 1990): NDV = -m ln(V) from the zero
  fraction of an m-bit bitmap — the low-load regime's best estimator
  (HLL's sparse-mode ancestor).
- Logistic regression, 2 exact Newton steps (predict purchase from
  event value): each step consumes only per-pass SUFFICIENT
  STATISTICS (5 aggregates), so training distributes as two scans —
  no per-row state, no driver-side data.

Determinism contract (SURVEY §4.3): hashes are the repo's h32 md5
protocol; sketch memberships and bit positions are exact integers;
Newton step 1 is exact integer-moment algebra (sigma(0) = 1/2
exactly); step 2's per-row sigmoid terms snap to 1e6 before their
unordered sums (the text_kl_matrix protocol)."""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import h32, h32_sql, units_sum, units_sum_sql, wide, wide_sql


# Trigram sets of the even/odd document halves (the corpus-diff pair
# the rank-turbulence key also uses; trigrams because the unigram
# vocabulary is closed).
_TRI_HALVES_SQL = """
    SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS w,
           CAST(max(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS in_a,
           CAST(max(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS in_b
    FROM (
        SELECT doc_id % 2 AS half, string_split(text, ' ') AS t
        FROM documents WHERE len(string_split(text, ' ')) >= 3
    ), unnest(range(1, len(t) - 1)) AS u(i)
    GROUP BY 1
"""


def _tri_halves(spark, sf_dir):
    tri = (T(spark, sf_dir, "documents")
           .select(F.pmod(F.col("doc_id"), 2).alias("half"),
                   F.split(F.col("text"), " ").alias("t"))
           .filter(F.size("t") >= 3)
           .select("half", F.explode(F.expr(
               "transform(sequence(0, size(t) - 3),"
               " i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2]))"))
               .alias("w")))
    return tri.groupBy("w").agg(
        F.max(F.when(F.col("half") == 0, 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("half") == 1, 1).otherwise(0)).alias("in_b"))


# ----------------------------------------------------- KMV Jaccard

@query("sketch_kmv_jaccard", oracle=f"""
    WITH sets AS ({_TRI_HALVES_SQL}),
    hashed AS (
        SELECT {h32_sql('w')} AS h, in_a, in_b FROM sets
    ),
    umin AS (
        SELECT h, in_a, in_b FROM hashed ORDER BY h LIMIT 256
    ),
    est AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(in_a * in_b) AS BIGINT) AS hits
        FROM umin
    ),
    exact AS (
        SELECT CAST(sum(in_a * in_b) AS BIGINT) AS inter,
               CAST(count(*) AS BIGINT) AS uni
        FROM sets
    )
    SELECT k, hits,
           round(CAST(hits AS DOUBLE) / k, 6) AS jaccard_est,
           round(CAST(inter AS DOUBLE) / uni, 6) AS jaccard_exact,
           round(CAST(hits AS DOUBLE) / k
                 - CAST(inter AS DOUBLE) / uni, 6) AS err
    FROM est, exact
""")
def sketch_kmv_jaccard(spark, sf_dir):
    """KMV resemblance sketch between the even- and odd-half trigram
    sets (Beyer et al. 2007): take the k = 256 smallest h32 hashes of
    the UNION, count how many belong to both sets — hits/k is an
    unbiased Jaccard estimate, reported against the exact value. This
    is the mergeable-sketch path to dedup candidate SCORING: at
    100 TB each side ships k longs + membership bits (the union k-min
    of per-partition k-mins, associative like sketch_kmv_distinct's
    merge law), never a set intersection.

    The union k-min is TakeOrderedAndProject on exact integer hashes
    (a total order with no ties — h32 collisions on 31k trigrams are
    negligible and identical on both engines anyway); membership
    flags ride the same rows; both ratios are exact-integer
    divisions rounded once. RMSE theory: ~ sqrt(J(1-J)/k) ~ 3% here.

    Scale shape: one (gram) aggregate with membership flags + a
    global top-k + two 1-row reduces."""
    sets = _tri_halves(spark, sf_dir)
    hashed = sets.select(h32(F.col("w")).alias("h"), "in_a", "in_b")
    umin = hashed.orderBy("h").limit(256)
    est = umin.agg(F.count("*").alias("k"),
                   F.sum(F.col("in_a") * F.col("in_b")).alias("hits"))
    exact = sets.agg(
        F.sum(F.col("in_a") * F.col("in_b")).alias("inter"),
        F.count("*").alias("uni"))
    return (est.crossJoin(F.broadcast(exact))
            .select("k", "hits",
                    F.round(F.col("hits").cast("double") / F.col("k"),
                            6).alias("jaccard_est"),
                    F.round(F.col("inter").cast("double")
                            / F.col("uni"), 6).alias("jaccard_exact"),
                    F.round(F.col("hits").cast("double") / F.col("k")
                            - F.col("inter").cast("double")
                            / F.col("uni"), 6).alias("err")))


# ------------------------------------------------- Bloom FPR audit

_BLOOM_M = 65536


@query("sketch_bloom_fpr", oracle=f"""
    WITH sets AS ({_TRI_HALVES_SQL}),
    train AS (SELECT w FROM sets WHERE in_a = 1),
    probe AS (SELECT w FROM sets WHERE in_a = 0 AND in_b = 1),
    occupied AS (
        SELECT DISTINCT ({h32_sql(
            "CAST(seed AS VARCHAR) || ':' || w")}) % {_BLOOM_M} AS pos
        FROM train, (SELECT unnest([1, 2, 3]) AS seed)
    ),
    probe_pos AS (
        SELECT w, ({h32_sql(
            "CAST(seed AS VARCHAR) || ':' || w")}) % {_BLOOM_M} AS pos
        FROM probe, (SELECT unnest([1, 2, 3]) AS seed)
    ),
    verdict AS (
        SELECT p.w,
               CASE WHEN count(o.pos) = 3 THEN 1 ELSE 0 END AS fp
        FROM probe_pos p LEFT JOIN occupied o ON p.pos = o.pos
        GROUP BY p.w
    ),
    st AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM train) AS n_train,
               (SELECT CAST(count(*) AS BIGINT) FROM occupied)
                   AS n_bits_set,
               CAST(count(*) AS BIGINT) AS n_probes,
               CAST(sum(fp) AS BIGINT) AS n_false_pos
        FROM verdict
    )
    SELECT n_train, n_bits_set, n_probes, n_false_pos,
           round(CAST(n_false_pos AS DOUBLE) / n_probes, 6)
               AS fpr_measured,
           round((CAST(n_bits_set AS DOUBLE) / {_BLOOM_M})
                 * (CAST(n_bits_set AS DOUBLE) / {_BLOOM_M})
                 * (CAST(n_bits_set AS DOUBLE) / {_BLOOM_M}), 6)
               AS fpr_theory
    FROM st
""")
def sketch_bloom_fpr(spark, sf_dir):
    """Measured vs theoretical false-positive rate of an (m = 65536,
    k = 3) Bloom filter: build the filter on the even-half trigram
    set, probe with trigrams exclusive to the odd half (true
    negatives by construction), and compare the observed FPR to the
    exact-occupancy theory (rho^k where rho = set-bit fraction — the
    sharper form of (1 - e^{{-kn/m}})^k that needs no Poisson
    approximation because the occupied count is measured, not
    modeled). The audit every join-pruning filter
    (join_bloom_pruned) should ship with: an undersized filter
    silently turns pruning into a no-op.

    The bit array is REPRESENTED as the distinct set of occupied
    positions (seed-prefixed h32 mod m — 3 independent hash
    functions); a probe is false-positive iff all 3 of its positions
    are occupied (count = 3 after the position equi-join; probe
    positions are distinct per gram since seeds prefix the hash
    input... collisions across seeds fold to the same position and
    the count-of-matches still reads 3 only when every position is
    set, because the join is on distinct occupied rows and the LEFT
    side keeps its 3 rows). All counts exact; two ratios round once.

    Scale shape: two distinct-aggregates + one position equi-join —
    the filter is m positions max, broadcastable at any corpus
    size."""
    sets = _tri_halves(spark, sf_dir)
    seeds = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3)))
    train = sets.filter(F.col("in_a") == 1).select("w")
    probe = (sets.filter((F.col("in_a") == 0) & (F.col("in_b") == 1))
             .select("w"))

    def positions(df):
        return (df.select("w", seeds.alias("seed"))
                .select("w", F.pmod(h32(F.concat_ws(
                    ":", F.col("seed").cast("string"), F.col("w"))),
                    F.lit(_BLOOM_M)).alias("pos")))

    occupied = positions(train).select("pos").distinct()
    probe_pos = positions(probe)
    occ = occupied.select(F.col("pos").alias("opos"))
    verdict = (probe_pos.join(F.broadcast(occ),
                              probe_pos.pos == occ.opos, "left")
               .groupBy("w")
               .agg(F.when(F.count("opos") == 3, 1).otherwise(0)
                    .alias("fp")))
    n_train = train.agg(F.count("*").alias("n_train"))
    n_bits = occupied.agg(F.count("*").alias("n_bits_set"))
    st = (verdict.agg(F.count("*").alias("n_probes"),
                      F.sum("fp").alias("n_false_pos"))
          .crossJoin(F.broadcast(n_train))
          .crossJoin(F.broadcast(n_bits)))
    rho = F.col("n_bits_set").cast("double") / _BLOOM_M
    return st.select(
        "n_train", "n_bits_set", "n_probes", "n_false_pos",
        F.round(F.col("n_false_pos").cast("double")
                / F.col("n_probes"), 6).alias("fpr_measured"),
        F.round(rho * rho * rho, 6).alias("fpr_theory"))


# --------------------------------------------- linear counting

_LC_M = 16384


@query("sketch_linear_counting", oracle=f"""
    WITH sets AS ({_TRI_HALVES_SQL}),
    occ AS (
        SELECT CAST(count(DISTINCT ({h32_sql('w')})
                    % {_LC_M}) AS BIGINT) AS n_set
        FROM sets
    ),
    exact AS (SELECT CAST(count(*) AS BIGINT) AS ndv FROM sets)
    SELECT n_set, ndv,
           round(-{_LC_M} * ln((CAST({_LC_M} AS DOUBLE) - n_set)
                               / {_LC_M}), 2) AS ndv_est,
           round(100.0 * (-{_LC_M} * ln((CAST({_LC_M} AS DOUBLE)
                                         - n_set) / {_LC_M}) - ndv)
                 / ndv, 4) AS err_pct
    FROM occ, exact
""")
def sketch_linear_counting(spark, sf_dir):
    """Linear probabilistic counting of the distinct trigram count
    (Whang, Vander-Zanden & Taylor 1990): hash every gram into an
    m = 16384-position bitmap and estimate NDV = -m ln(V) where V is
    the zero fraction — at load factors near 1 (n/m ~ 1.9 here) this
    beats KMV/HLL variance, which is exactly why HLL implementations
    fall back to it in sparse mode (the repo's hll_mergeable
    documents that transition; this key is the estimator itself).

    The bitmap is the exact distinct set of occupied positions (h32
    mod m); the estimate and its signed error are fixed float
    expressions over the two exact integers (bias theory:
    ~ m e^t/... sub-1% at this load).

    Scale shape: one distinct-count aggregate (map-side combinable
    to m bits per partition) + a 1-row reduce."""
    sets = _tri_halves(spark, sf_dir)
    occ = sets.agg(F.countDistinct(
        F.pmod(h32(F.col("w")), F.lit(_LC_M))).alias("n_set"))
    exact = sets.agg(F.count("*").alias("ndv"))
    est = -float(_LC_M) * F.log(
        (F.lit(float(_LC_M)) - F.col("n_set")) / float(_LC_M))
    return (occ.crossJoin(F.broadcast(exact))
            .select("n_set", "ndv",
                    F.round(est, 2).alias("ndv_est"),
                    F.round(100.0 * (est - F.col("ndv"))
                            / F.col("ndv"), 4).alias("err_pct")))


# ------------------------------------- logistic regression, 2 Newton steps

@query("ml_logistic_newton", oracle=f"""
    WITH rows_ AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS y,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    m0 AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(c)')} AS sc,
               sum({wide_sql('c')} * c) AS scc,
               CAST(sum(y) AS BIGINT) AS sy,
               {wide_sql('sum(c * y)')} AS scy
        FROM rows_
    ),
    step1 AS (
        SELECT n, sc, scc, sy, scy,
               -- Newton from beta = 0: p = 1/2, w = 1/4 exactly.
               -- H = 0.25*[[n, sx],[sx, sxx]], g = (sy - n/2,
               -- sxy - sx/2); x = c/1e4.
               (4.0 * ((CAST(scc AS DOUBLE) / 1e8)
                       * (sy - n / 2.0)
                       - (CAST(sc AS DOUBLE) / 1e4)
                         * (CAST(scy AS DOUBLE) / 1e4
                            - CAST(sc AS DOUBLE) / 1e4 / 2.0)))
               / (n * (CAST(scc AS DOUBLE) / 1e8)
                  - (CAST(sc AS DOUBLE) / 1e4)
                    * (CAST(sc AS DOUBLE) / 1e4)) AS b0,
               (4.0 * (n * (CAST(scy AS DOUBLE) / 1e4
                            - CAST(sc AS DOUBLE) / 1e4 / 2.0)
                       - (CAST(sc AS DOUBLE) / 1e4)
                         * (sy - n / 2.0)))
               / (n * (CAST(scc AS DOUBLE) / 1e8)
                  - (CAST(sc AS DOUBLE) / 1e4)
                    * (CAST(sc AS DOUBLE) / 1e4)) AS b1
        FROM m0
    ),
    terms AS (
        SELECT n, b0, b1,
               {units_sum_sql('y - p', 1e6)} AS g0_u,
               {units_sum_sql('(y - p) * x', 1e6)} AS g1_u,
               {units_sum_sql('p * (1.0 - p)', 1e6)} AS w0_u,
               {units_sum_sql('p * (1.0 - p) * x', 1e6)}
                   AS w1_u,
               {units_sum_sql('p * (1.0 - p) * x * x', 1e6)}
                   AS w2_u,
               {units_sum_sql(
                   '-(y * ln(p) + (1 - y) * ln(1.0 - p))', 1e6)} AS ll_u
        FROM (
            SELECT n, b0, b1, y,
                   CAST(c AS DOUBLE) / 1e4 AS x,
                   1.0 / (1.0 + exp(-(b0 + b1
                                      * (CAST(c AS DOUBLE) / 1e4))))
                       AS p
            FROM rows_ CROSS JOIN step1
        ) GROUP BY n, b0, b1
    )
    SELECT n,
           round(b0 + ((w2_u / 1e6) * (g0_u / 1e6)
                       - (w1_u / 1e6) * (g1_u / 1e6))
                 / ((w0_u / 1e6) * (w2_u / 1e6)
                    - (w1_u / 1e6) * (w1_u / 1e6)), 6) AS beta0,
           round(b1 + ((w0_u / 1e6) * (g1_u / 1e6)
                       - (w1_u / 1e6) * (g0_u / 1e6))
                 / ((w0_u / 1e6) * (w2_u / 1e6)
                    - (w1_u / 1e6) * (w1_u / 1e6)), 6) AS beta1,
           round(ll_u / (CAST(n AS DOUBLE) * 1e6), 6) AS log_loss_step1
    FROM terms
""")
def ml_logistic_newton(spark, sf_dir):
    """Logistic regression by two exact Newton-Raphson steps, trained
    IN the engine: predict purchase-vs-view from the event value
    (x = cents/1e4). Step 1 from beta = (0,0) is closed-form integer-
    moment algebra (sigma(0) = 1/2 and w = 1/4 EXACTLY, so the first
    Newton direction needs only n, Sx, Sxx, Sy, Sxy — one scan).
    Step 2 re-scans with the step-1 beta broadcast, accumulating the
    five weighted sufficient statistics (gradient and Hessian cells)
    plus the step-1 log-loss, each per-row term snapped to 1e6
    before its unordered sum. The point: IRLS distributes as one
    aggregate per iteration — sufficient statistics, never rows, hit
    the driver, which is how logistic regression actually trains at
    100 TB.

    The 2x2 Hessian solves symbolically (no matrix library); all
    ratios are fixed float expressions; exp/ln per-row wiggle is
    absorbed by the 1e6 snap (the text_kl_matrix protocol).

    Scale shape: two scans, each ONE map-side-combinable aggregate +
    a broadcast-scalar crossJoin between them (AQE reuses the
    exchange)."""
    rows_ = (T(spark, sf_dir, "events")
             .filter(F.col("event_type").isin("purchase", "view"))
             .select(F.when(F.col("event_type") == "purchase", 1)
                     .otherwise(0).alias("y"),
                     F.round(F.col("value") * 100).cast("bigint")
                     .alias("c")))
    m0 = rows_.agg(
        F.count("*").alias("n"), F.sum("c").alias("sc"),
        F.sum(wide("c") * F.col("c")).alias("scc"),
        F.sum("y").alias("sy"),
        F.sum(F.col("c") * F.col("y")).alias("scy"))
    sx = F.col("sc").cast("double") / 1e4
    sxx = F.col("scc").cast("double") / 1e8
    sxy = F.col("scy").cast("double") / 1e4
    det0 = F.col("n") * sxx - sx * sx
    g0 = F.col("sy") - F.col("n") / 2.0
    g1 = sxy - sx / 2.0
    step1 = m0.select(
        "n",
        ((4.0 * (sxx * g0 - sx * g1)) / det0).alias("b0"),
        ((4.0 * (F.col("n") * g1 - sx * g0)) / det0).alias("b1"))
    x = F.col("c").cast("double") / 1e4
    p = 1.0 / (1.0 + F.exp(-(F.col("b0") + F.col("b1") * x)))
    w = p * (1.0 - p)
    terms = (rows_.crossJoin(F.broadcast(step1))
             .agg(F.max("n").alias("n"),
                  F.max("b0").alias("b0"), F.max("b1").alias("b1"),
                  units_sum(F.col("y") - p, 1e6)
                  .alias("g0_u"),
                  units_sum((F.col("y") - p) * x, 1e6).alias("g1_u"),
                  units_sum(w, 1e6).alias("w0_u"),
                  units_sum(w * x, 1e6)
                  .alias("w1_u"),
                  units_sum(w * x * x, 1e6)
                  .alias("w2_u"),
                  units_sum(-(F.col("y") * F.log(p)
                                  + (1 - F.col("y"))
                                  * F.log(1.0 - p)), 1e6).alias("ll_u")))
    w0 = F.col("w0_u") / 1e6
    w1 = F.col("w1_u") / 1e6
    w2 = F.col("w2_u") / 1e6
    gg0 = F.col("g0_u") / 1e6
    gg1 = F.col("g1_u") / 1e6
    det = w0 * w2 - w1 * w1
    return terms.select(
        "n",
        F.round(F.col("b0") + (w2 * gg0 - w1 * gg1) / det, 6)
        .alias("beta0"),
        F.round(F.col("b1") + (w0 * gg1 - w1 * gg0) / det, 6)
        .alias("beta1"),
        F.round(F.col("ll_u") / (F.col("n").cast("double") * 1e6), 6)
        .alias("log_loss_step1"))
