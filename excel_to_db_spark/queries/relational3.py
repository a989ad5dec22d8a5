"""Tier B relational surface, third pack (SURVEY.md §2.B addendum).

Semantic corners of the SQL surface where engines classically diverge —
the places a user migrating off the reference's SQLite passthrough
(reference src/main.rs:220) gets silently different answers if the
rebuild is careless: three-valued-logic NOT IN, null-safe equality
joins, relational division, gaps-and-islands, window frames SQLite has
(EXCLUDE, GROUPS) that Spark lacks and must emulate, deterministic mode,
histogram binning, and metric-based fuzzy matching with blocking.

All implementations are built-in pyspark.sql.functions (JVM codegen);
window-frame emulations use exact integer cents so the float summation
order can never flip the driver's value hash. Oracle = DuckDB SQL on the
same parquet views (DuckDB supports EXCLUDE but not GROUPS frames, so
the GROUPS oracle uses the same dense_rank+RANGE rewrite — a
cross-engine check of the rewrite, not of the engine's native frame).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import physical
from .registry import query
from .relational import T
from ..numerics import units_sum, units_sum_sql

_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"


# ------------------------------------------------- NULL semantics corners

@query("anti_join_nulls", oracle="""
    WITH probe AS (SELECT nullif(o_custkey % 97, 7) AS k FROM orders)
    SELECT
      (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT k FROM probe))
        AS not_in_cnt,
      (SELECT count(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = c.c_custkey))
        AS not_exists_cnt
""")
def anti_join_nulls(spark, sf_dir):
    """Three-valued-logic NOT IN vs NOT EXISTS. The probe side contains a
    NULL, so `NOT IN` is UNKNOWN for every row (count 0) while the anti
    join keeps every non-matching row — the classic silent-wrong-answer
    trap. Spark plans the NOT IN as a null-aware anti join
    (BroadcastNestedLoopJoin when the build side may hold a NULL) and the
    NOT EXISTS as a plain left-anti hash join; at 100 TB the null-aware
    variant is the one to avoid unless the probe is provably NOT NULL.
    SQLite passthrough (reference src/main.rs:220) follows the same
    standard semantics."""
    return spark.sql("""
        WITH probe AS (SELECT nullif(o_custkey % 97, 7) AS k FROM {orders})
        SELECT
          (SELECT count(*) FROM {customer}
            WHERE c_custkey NOT IN (SELECT k FROM probe))  AS not_in_cnt,
          (SELECT count(*) FROM {customer} c
            WHERE NOT EXISTS (SELECT 1 FROM probe p
                              WHERE p.k = c.c_custkey))    AS not_exists_cnt
    """, orders=T(spark, sf_dir, "orders"),
        customer=T(spark, sf_dir, "customer"))


@query("join_null_safe", oracle="""
    SELECT n.k AS nk, count(*) AS cnt
    FROM (SELECT nullif(c_nationkey, 5) AS k FROM customer) c
    JOIN (SELECT nullif(n_nationkey, 5) AS k FROM nation) n
      ON c.k IS NOT DISTINCT FROM n.k
    GROUP BY n.k
""")
def join_null_safe(spark, sf_dir):
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing. Spark's eqNullSafe keeps the
    join hashable (EqualNullSafe is a valid hash-join key), so unlike a
    `c.k = n.k OR (c.k IS NULL AND n.k IS NULL)` rewrite it does NOT
    degrade to a nested-loop join — the plan a 100 TB CDC merge needs."""
    c = (T(spark, sf_dir, "customer")
         .select(F.expr("nullif(c_nationkey, 5)").alias("ck")))
    n = (T(spark, sf_dir, "nation")
         .select(F.expr("nullif(n_nationkey, 5)").alias("nk")))
    return (c.join(F.broadcast(n), c["ck"].eqNullSafe(n["nk"]), "inner")
            .groupBy("nk").agg(F.count("*").alias("cnt")))


# ------------------------------------------------------ classic shapes

@query("relational_division", oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    HAVING count(DISTINCT o.o_orderpriority) =
           (SELECT count(DISTINCT o_orderpriority) FROM orders)
""")
def relational_division(spark, sf_dir):
    """Relational division ("for all"): customers who placed orders in
    EVERY priority class. Implemented as count-distinct-per-group matched
    against a broadcast 1-row universe count — two map-side-combinable
    aggregations and a broadcast join, never the naive double-NOT-EXISTS
    (which would be two correlated anti joins over the fact table)."""
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    universe = o.agg(F.countDistinct("o_orderpriority").alias("n_prio"))
    per_cust = (o.groupBy("o_custkey")
                .agg(F.countDistinct("o_orderpriority").alias("np")))
    full = per_cust.join(F.broadcast(universe),
                         per_cust["np"] == universe["n_prio"], "inner")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (full.join(c, full["o_custkey"] == c["c_custkey"], "inner")
            .select("c_custkey", "c_name"))


@query("sequence_gaps", oracle="""
    WITH k AS (SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F'),
         s AS (SELECT k, lead(k) OVER (ORDER BY k) AS nxt FROM k)
    SELECT k + 1 AS gap_start, nxt - 1 AS gap_end, nxt - k - 1 AS gap_len
    FROM s WHERE nxt > k + 1
""")
def sequence_gaps(spark, sf_dir):
    """Gaps-and-islands: missing ranges in the surviving key sequence
    after a filter. The oracle's single global-ORDER-BY window is the
    textbook form but serializes onto one task; here the Spark plan is
    the scale-safe two-level version: lead() within hash-partitioned
    key buckets (k div 1024) finds intra-bucket gaps in parallel, and a
    window over the tiny per-bucket min/max aggregate (keys/1024 rows)
    finds the cross-bucket gaps — identical result, no single-partition
    shuffle of the full sequence at 100 TB."""
    k = (T(spark, sf_dir, "orders")
         .filter(F.col("o_orderstatus") == "F")
         .select(F.col("o_orderkey").alias("k")))
    b = k.withColumn("bucket", F.expr("k div 1024"))

    w_in = Window.partitionBy("bucket").orderBy("k")
    within = (b.withColumn("nxt", F.lead("k").over(w_in))
              .filter(F.col("nxt") > F.col("k") + 1)
              .select((F.col("k") + 1).alias("gap_start"),
                      (F.col("nxt") - 1).alias("gap_end")))

    agg = b.groupBy("bucket").agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
    w_b = Window.orderBy("bucket")  # rows = distinct buckets (tiny)
    across = (agg.withColumn("next_lo", F.lead("lo").over(w_b))
              .filter(F.col("next_lo") > F.col("hi") + 1)
              .select((F.col("hi") + 1).alias("gap_start"),
                      (F.col("next_lo") - 1).alias("gap_end")))

    return (within.unionAll(across)
            .withColumn("gap_len",
                        F.col("gap_end") - F.col("gap_start") + F.lit(1)))


@query("agg_mode", oracle="""
    WITH freq AS (
        SELECT l_returnflag AS g, l_quantity AS v, count(*) AS c
        FROM lineitem GROUP BY 1, 2
    ),
    m AS (SELECT g, max(c) AS mc FROM freq GROUP BY g)
    SELECT f.g AS l_returnflag, min(f.v) AS mode_qty, max(f.c) AS mode_cnt
    FROM freq f JOIN m ON m.g = f.g AND f.c = m.mc
    GROUP BY f.g
""")
def agg_mode(spark, sf_dir):
    """Deterministic mode per group. Built-in `mode()` (Spark 3.4+ and
    DuckDB both have it) breaks frequency ties engine-dependently, so
    this computes it structurally: frequency table -> per-group max
    count (broadcast) -> smallest value among the tied argmaxes. Both
    levels are partial-aggregable; no window, no sort of the fact."""
    li = T(spark, sf_dir, "lineitem")
    freq = (li.groupBy(F.col("l_returnflag").alias("g"),
                       F.col("l_quantity").alias("v"))
            .agg(F.count("*").alias("c")))
    m = freq.groupBy(F.col("g").alias("mg")).agg(F.max("c").alias("mc"))
    return (freq.join(F.broadcast(m),
                      (freq["g"] == m["mg"]) & (freq["c"] == m["mc"]))
            .groupBy(F.col("g").alias("l_returnflag"))
            .agg(F.min("v").alias("mode_qty"), F.max("c").alias("mode_cnt")))


@query("agg_histogram", oracle="""
    WITH b AS (
        SELECT CAST(floor(o_totalprice / 50000) AS INT) AS bucket,
               o_totalprice AS p
        FROM orders
    )
    SELECT bucket, count(*) AS n,
           round(min(p), 2) AS lo_price, round(max(p), 2) AS hi_price,
           round(100.0 * count(*) / sum(count(*)) OVER (), 4) AS pct
    FROM b GROUP BY bucket
""")
def agg_histogram(spark, sf_dir):
    """Equi-width histogram by explicit binning (floor division — the
    form that stays in codegen and partial-aggregates map-side; Spark's
    width_bucket would also work but DuckDB lacks it). The pct column is
    a window over the ~dozen bucket rows post-aggregation — trivially
    small, unlike a pre-aggregation window over the fact table."""
    o = T(spark, sf_dir, "orders")
    binned = (o.groupBy(F.expr("CAST(floor(o_totalprice / 50000) AS INT)")
                        .alias("bucket"))
              .agg(F.count("*").alias("n"),
                   F.round(F.min("o_totalprice"), 2).alias("lo_price"),
                   F.round(F.max("o_totalprice"), 2).alias("hi_price")))
    return binned.withColumn(
        "pct", F.round(100.0 * F.col("n") / F.sum("n").over(
            Window.partitionBy()), 4))


# ----------------------------------------------- window-frame emulations

@query("window_exclude", oracle=f"""
    WITH t AS (SELECT o_custkey, o_orderkey, {_CENTS} AS cents FROM orders)
    SELECT o_custkey, o_orderkey,
           sum(cents) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                            ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
                            EXCLUDE CURRENT ROW) / 100.0 AS neighbor_sum
    FROM t
""")
def window_exclude(spark, sf_dir):
    """EXCLUDE CURRENT ROW frame emulation (SQLite and DuckDB have
    EXCLUDE, Spark does not): sum the full +/-2-rows frame and subtract
    the current row's value — exact because the measure is summed as
    integer cents, so inclusion-then-subtraction cannot drift from the
    oracle's native exclusion. Empty exclusion frames (single-row
    partitions) yield NULL on both sides via the frame-count guard."""
    o = T(spark, sf_dir, "orders")
    cents = F.expr(_CENTS)
    w = (Window.partitionBy("o_custkey").orderBy("o_orderkey")
         .rowsBetween(-2, 2))
    return o.select(
        "o_custkey", "o_orderkey",
        F.when(F.count("*").over(w) > 1,
               (F.sum(cents).over(w) - cents) / 100.0)
        .alias("neighbor_sum"))


@query("window_groups_frame", oracle=f"""
    WITH t AS (
        SELECT o_orderkey, o_orderpriority, {_CENTS} AS cents,
               dense_rank() OVER (PARTITION BY o_orderpriority
                                  ORDER BY date_trunc('month', o_orderdate))
                 AS dr
        FROM orders
    )
    SELECT o_orderkey,
           sum(cents) OVER (PARTITION BY o_orderpriority ORDER BY dr
                            RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)
             / 100.0 AS grp_sum
    FROM t
""")
def window_groups_frame(spark, sf_dir):
    """GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING emulation (SQLite has
    GROUPS frames; neither Spark nor DuckDB does): dense_rank the peer
    groups, then a RANGE frame of +/-1 over the rank — peer-group
    framing expressed with primitives every engine optimizes. One
    shuffle on the partition key serves both windows (same partitioning,
    compatible ordering); integer cents keep the sums exact."""
    o = T(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate"))
    t = o.select("o_orderkey", "o_orderpriority",
                 F.expr(_CENTS).alias("cents"),
                 F.dense_rank().over(
                     Window.partitionBy("o_orderpriority").orderBy(month))
                 .alias("dr"))
    w = (Window.partitionBy("o_orderpriority").orderBy("dr")
         .rangeBetween(-1, 1))
    return t.select("o_orderkey",
                    (F.sum("cents").over(w) / 100.0).alias("grp_sum"))


# ------------------------------------------------------- fuzzy matching

@query("str_fuzzy_match", oracle="""
    WITH t AS (SELECT DISTINCT p_name AS v FROM part)
    SELECT a.v AS name_a, b.v AS name_b, levenshtein(a.v, b.v) AS dist
    FROM t a JOIN t b
      ON a.v < b.v
     AND abs(length(a.v) - length(b.v)) <= 2
    WHERE levenshtein(a.v, b.v) <= 3
""")
def str_fuzzy_match(spark, sf_dir):
    """Edit-distance fuzzy matching with candidate blocking: distinct
    names self-paired under a cheap length-band predicate BEFORE the
    O(len^2) levenshtein runs — the block-then-verify shape every
    record-linkage pipeline uses. The distinct name list is small
    relative to the fact table, so Spark broadcasts it and the pair
    generation never shuffles.

    Two scale lessons from the r8 jittered-sf1 run (176,739 distinct
    names where the plain replica fixture has 64): (1) the probe side
    of a BroadcastNestedLoopJoin inherits the scan's 1-2 parquet
    splits, so the whole quadratic compute collapsed onto 2 cores —
    the explicit-N repartition is the same fix as ml_knn_classify
    (AQE never coalesces a user-numbered repartition, and its skew
    splitter can't see compute-per-byte); (2) the verify metric is
    threshold-bounded — levenshtein(a, b, 3) abandons a row's DP as
    soon as the band k=3 is exceeded (O(k*len) not O(len^2)) and
    returns the exact distance for every pair that is kept, so the
    result set is unchanged.

    Round-9 candidate-mass prune (VERDICT r8 #2): the length band
    passes ~93% of the N^2/2 pairs here (lengths concentrate on
    10-12), so the bounded DP still ran ~1.4e10 times and dominated
    the 323 s sf1j wall. Ahead of it now sits a count-filter cascade
    on a PRECOMPUTED 2-level saturating character-count signature:
    m1 = bitmask of chars present, m2 = bitmask of chars appearing
    >= 2 times (both folded to 64 buckets by codepoint % 64). For any
    pair, bit_count(m1a^m1b) + bit_count(m2a^m2b) is the L1 distance
    between bucket-merged count histograms saturated at 2 — and each
    edit operation changes the true histogram L1 by at most 2, while
    bucket-merging and saturation only ever SHRINK the L1, so
    lev(a,b) <= 3 implies the signature sum <= 6. Necessary
    condition => exact-preserving: the cascade only discards pairs the
    final predicate would discard anyway. Measured on the sf1j name
    pool: rejects 95.2% of length-band pairs with two XOR+bit_count
    long ops (signatures built once per distinct name via JVM
    higher-order functions, not per pair, and not in Python). Cascade
    order inside the single join condition (codegen short-circuits
    conjunctions left-to-right; a separate .filter would be pushed
    into the join ahead of the cheap predicates by Catalyst's
    filter-into-join merge — measured, tests/test_plans_r3.py):
    int length band -> int rank dedup -> signature sum -> bigram
    signature -> bounded levenshtein. Length remains a
    CANDIDATE-UNBOUNDED blocker; the bounded-candidate sibling for
    fact-sized inputs is linkage_sorted_neighborhood's windowed
    blocking.

    Round-11 additions + the measured cost floor. Two more
    exact-preserving prunes: (1) the lexicographic a.v < b.v dedup is
    now an INTEGER rank compare (row_number over the distinct names,
    so a.rid < b.rid <=> a.v < b.v) placed right after the length
    band — UTF8String compares in the hot loop measured a full 38s
    slower over the N^2 pair stream when evaluated before the
    signatures; (2) a bigram presence bitmask bg (bigram hashed to 64
    buckets): one edit destroys/creates at most 2 positional bigrams
    per side, so lev <= 3 implies bit_count(bg_a^bg_b) <= 12
    (bucket-fold collisions only shrink the XOR — still necessary).
    Measured 702M -> 509M surviving DP calls. What does NOT work on
    this corpus, all measured at sf1j and kept out: id-bucket
    pair-halving via an equi-join on bucket pairs (118.5s — the
    broadcast-hash-join chain scan costs more per generated row than
    the nested-loop's tight inner loop), PassJoin 4-segment substring
    blocking (5.85e9 candidate join rows — the two-word vocabulary
    makes every segment hot), a 3rd saturation level m3 (rejects <3%
    more). The remaining wall is structural: ~5e8 survivors are
    boundary pairs (lev 3 vs 4) that only the DP separates, and
    Spark's threshold-banded levenshtein costs ~1.8 us/call even on
    4-char inputs (per-call allocation, measured by truncating the
    operands), so the verify stage floors near ~45s here. The output
    itself is 63.8M true pairs — Omega(output) work."""
    n_parts = physical.parallelism(spark)
    # 2-level saturating char-count signature, built once per name.
    # m1: bucket has count>=1; m2: bucket has count>=2 (a char at
    # position i counts toward m2 iff it already occurred in v[1..i-1]).
    # (sequence(1,0) would generate a DESCENDING [1,0] in Spark, so the
    # empty string gets an explicit 0 signature instead of the HOF.)
    _m1 = ("CASE WHEN length(v) = 0 THEN CAST(0 AS BIGINT) ELSE "
           "aggregate(transform(sequence(1, length(v)), i -> "
           "shiftleft(CAST(1 AS BIGINT), ascii(substr(v, i, 1)) % 64)), "
           "CAST(0 AS BIGINT), (acc, x) -> acc | x) END")
    _m2 = ("CASE WHEN length(v) = 0 THEN CAST(0 AS BIGINT) ELSE "
           "aggregate(transform(sequence(1, length(v)), i -> CASE WHEN "
           "i > 1 AND instr(substr(v, 1, i - 1), substr(v, i, 1)) > 0 "
           "THEN shiftleft(CAST(1 AS BIGINT), ascii(substr(v, i, 1)) % 64) "
           "ELSE CAST(0 AS BIGINT) END), "
           "CAST(0 AS BIGINT), (acc, x) -> acc | x) END")
    # bg: bigram presence bitmask, 64 buckets (see docstring round-11
    # note; the multiplier 31 is the usual polynomial string-hash step).
    _bg = ("CASE WHEN length(v) < 2 THEN CAST(0 AS BIGINT) ELSE "
           "aggregate(transform(sequence(1, length(v) - 1), i -> "
           "shiftleft(CAST(1 AS BIGINT), (ascii(substr(v, i, 1)) * 31 "
           "+ ascii(substr(v, i + 1, 1))) % 64)), "
           "CAST(0 AS BIGINT), (acc, x) -> acc | x) END")
    # rid: dense lexicographic rank of the distinct names, so the pair
    # dedup is an int compare. The unpartitioned row_number is over the
    # DISTINCT NAME DIMENSION (176k rows at jittered sf1), not the fact
    # table — the bounded-window class of the r10 global-window audit.
    # row_number over unique v is deterministic, so the two join sides
    # recompute identical ranks without materialization.
    names = (T(spark, sf_dir, "part").select(F.col("p_name").alias("v"))
             .distinct()
             .select("v", F.length("v").alias("ln"),
                     F.expr(_m1).alias("m1"), F.expr(_m2).alias("m2"),
                     F.expr(_bg).alias("bg"),
                     F.row_number().over(Window.orderBy("v")).alias("rid"))
             .repartition(n_parts)
             # r12: FIVE consumers now traverse the name dimension (two
             # join sides, the kernel dictionary collect, two rid->name
             # join-backs); one lazy cut computes it once.
             .transform(physical.cut))
    a, b = names.alias("a"), names.alias("b")
    lev3 = F.levenshtein(F.col("a.v"), F.col("b.v"), 3)
    sig_l1 = (F.bit_count(F.col("a.m1").bitwiseXOR(F.col("b.m1")))
              + F.bit_count(F.col("a.m2").bitwiseXOR(F.col("b.m2"))))
    bg_l1 = F.bit_count(F.col("a.bg").bitwiseXOR(F.col("b.bg")))
    cascade = ((F.abs(F.col("a.ln") - F.col("b.ln")) <= 2)
               & (F.col("a.rid") < F.col("b.rid"))
               & (sig_l1 <= 6)
               & (bg_l1 <= 12))

    if not physical.broadcastable(physical.footer_rows(sf_dir, ("part",))):
        # Scale-out path: the verify dictionary (like the broadcast
        # build side above it) is bounded by the distinct-name
        # dimension; past the broadcast class, keep the whole cascade +
        # banded levenshtein in the join condition — the r11 shape.
        return (a.join(F.broadcast(b), cascade & (lev3 >= 0), "inner")
                .select(F.col("a.v").alias("name_a"),
                        F.col("b.v").alias("name_b"),
                        lev3.alias("dist")))

    # r12 (guide §4.2): the DP verify moves to a batched NumPy banded
    # Levenshtein inside mapInArrow. Spark's levenshtein(a, b, 3) costs
    # ~1.8 us/call (per-call int[] allocation) and the ~5e8 cascade
    # survivors at jittered sf1 made it the measured ~45 s floor of
    # this key; the vectorized kernel does the identical DP at
    # ~0.9-2 M pairs/s/core. Only (rid_a, rid_b) int32 pairs cross the
    # Python boundary (8 B/pair); the name dictionary ships ONCE as a
    # codepoint matrix via a Spark broadcast variable (same
    # dimension-bounded class as the join's broadcast build side), and
    # names re-attach afterwards through two broadcast hash joins.
    # Exactness: classic DP edit distance is unique — the kernel is
    # pinned cell-identical to F.levenshtein by
    # tests/test_plans_r3.py::test_fuzzy_match_cascade_off_identical_pairs
    # (full sf0.01 corpus vs the exhaustive JVM formulation) and the
    # adversarial vocabulary of
    # tests/test_plans_r3.py::test_fuzzy_arrow_kernel_matches_jvm_levenshtein.
    rows = sorted(((r["rid"], r["v"])
                   for r in names.select("rid", "v").collect()))
    vocab = [v for _, v in rows]
    bc = spark.sparkContext.broadcast(_fuzzy_encode(vocab))

    cands = (a.join(F.broadcast(b), cascade, "inner")
             .select(F.col("a.rid").alias("ra"), F.col("b.rid").alias("rb")))
    verified = cands.mapInArrow(_fuzzy_verify_kernel(bc),
                                "ra int, rb int, dist int")
    return (verified
            .join(F.broadcast(names.select(F.col("rid").alias("ra"),
                                           F.col("v").alias("name_a"))),
                  "ra")
            .join(F.broadcast(names.select(F.col("rid").alias("rb"),
                                           F.col("v").alias("name_b"))),
                  "rb")
            .select("name_a", "name_b", "dist"))


def _fuzzy_encode(vocab: list[str]):
    """Encode the rid-ordered name list as a fixed-width CODEPOINT
    matrix + length vector (numpy 'U<w>' storage is UCS-4, so the
    uint32 view is exactly the code-point sequence levenshtein
    compares — correct for any Unicode, not just ASCII). When every
    code point fits a byte the matrix narrows to uint8: equality
    compares are value-identical and the DP is memory-bound, so the
    4x-narrower cells measured 4.3x more pairs/s."""
    import numpy as np

    width = max((len(v) for v in vocab), default=1) or 1
    u = np.array(vocab, dtype=f"U{width}")
    mat = u.view(np.uint32).reshape(len(vocab), width)
    if mat.size and mat.max() < 256:
        mat = mat.astype(np.uint8)
    lens = np.fromiter((len(v) for v in vocab), dtype=np.int32,
                       count=len(vocab))
    return mat, lens


def _fuzzy_verify_kernel(bc):
    """mapInArrow verify stage: (ra, rb) candidate rid pairs in,
    (ra, rb, dist) rows with exact levenshtein <= 3 out. Buffers input
    batches to ~2^19 rows so the vectorized DP amortizes (Arrow ships
    10k-row batches by default), groups pairs by (len_a, len_b) with
    one lexsort, and runs the banded DP once per group."""
    import numpy as np
    import pyarrow as pa

    def banded(A, B, la, lb, k=3):
        """Vectorized band-k Levenshtein over pairs of uniform lengths
        (la, lb): the classic rolling-row DP with every cell clipped at
        k+1 (cells outside the |i-j| <= k band can never reach <= k, so
        clipping preserves every value <= k exactly). A and B arrive
        TRANSPOSED — (length, n_pairs) — so every row/column slice the
        inner loop touches is contiguous (the strided column reads of
        the row-major layout measured 4x slower)."""
        n = A.shape[1]
        big = np.int8(k + 1)
        prev = np.empty((lb + 1, n), dtype=np.int8)
        for j in range(lb + 1):
            prev[j] = min(j, k + 1)
        cur = np.empty_like(prev)
        for i in range(1, la + 1):
            cur[0] = min(i, k + 1)
            jlo, jhi = max(1, i - k), min(lb, i + k)
            if jlo > jhi:
                # i - k > lb: the band has moved past the last column
                # and can never return — every completion costs > k.
                # (lb == 0 keeps folding through column 0: dist = la.)
                if lb == 0:
                    prev, cur = cur, prev
                    continue
                return np.full(n, big, dtype=np.int8)
            if jlo > 1:
                cur[jlo - 1] = big
            ai = A[i - 1]
            for j in range(jlo, jhi + 1):
                sub = prev[j - 1] + (ai != B[j - 1])
                np.minimum(sub, prev[j] + 1, out=sub)
                np.minimum(sub, cur[j - 1] + 1, out=sub)
                np.minimum(sub, big, out=sub)
                cur[j] = sub
            if jhi < lb:
                cur[jhi + 1:] = big
            prev, cur = cur, prev
        return prev[lb]

    def flush(chunks, mat, lens):
        ra = np.concatenate([c.column(0).to_numpy() for c in chunks])
        rb = np.concatenate([c.column(1).to_numpy() for c in chunks])
        ia, ib = ra - 1, rb - 1            # rid is 1-based dense
        la, lb = lens[ia], lens[ib]
        order = np.lexsort((lb, la))
        ia, ib, ra, rb = ia[order], ib[order], ra[order], rb[order]
        la, lb = la[order], lb[order]
        grp = la.astype(np.int64) * 100_000 + lb
        cuts = np.flatnonzero(np.diff(grp)) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [len(grp)]))
        dist = np.empty(len(grp), dtype=np.int8)
        for s, e in zip(starts, ends):
            ga, gb = int(la[s]), int(lb[s])
            dist[s:e] = banded(
                np.ascontiguousarray(mat[ia[s:e], :ga].T),
                np.ascontiguousarray(mat[ib[s:e], :gb].T),
                ga, gb)
        keep = dist <= 3
        return pa.RecordBatch.from_arrays(
            [pa.array(ra[keep], type=pa.int32()),
             pa.array(rb[keep], type=pa.int32()),
             pa.array(dist[keep].astype(np.int32), type=pa.int32())],
            names=["ra", "rb", "dist"])

    def kernel(batches):
        mat, lens = bc.value
        buf, rows = [], 0
        for b in batches:
            if b.num_rows == 0:
                continue
            buf.append(b)
            rows += b.num_rows
            if rows >= (1 << 19):
                yield flush(buf, mat, lens)
                buf, rows = [], 0
        if buf:
            yield flush(buf, mat, lens)

    return kernel


# -------------------------------------------------------------- skyline

@query("skyline_pareto_front", oracle="""
    WITH pts AS (
        SELECT DISTINCT CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
               p_size AS size
        FROM part
    ),
    s AS (
        SELECT cents, size,
               max(size) OVER (ORDER BY cents ASC, size DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS gmax
        FROM pts
    )
    SELECT round(cents / 100.0, 2) AS price, size
    FROM s WHERE gmax IS NULL OR gmax < size
""")
def skyline_pareto_front(spark, sf_dir):
    """Skyline (Pareto-front) query over parts: the set of
    (retail price, size) points not dominated by any other — no part is
    both cheaper-or-equal AND larger-or-equal with at least one strict.
    The classic multi-criteria shortlist operator (BNL/D&C in the
    skyline literature), absent from SQL engines and composed here from
    window primitives.

    One sorted pass solves 2-D skylines: order by (price ASC, size
    DESC); a point survives iff no PRECEDING row has size >= its own —
    a running-max window with an exclusive upper frame bound. Every
    dominator of p sorts before p in that order, so the check is exact
    on distinct (price, size) pairs.

    Scale shape: a global-ordering window is a single-partition sort,
    so a LOCAL prune runs first — the same running max partitioned by a
    hash of the row. Local skylines are superset-safe (a globally
    non-dominated point is non-dominated in every subset), and they cut
    the survivor set to near the final front, so the global window sees
    thousands of rows, not the table (the standard two-phase
    distributed-skyline design)."""
    pts = (T(spark, sf_dir, "part")
           .select(F.round(F.col("p_retailprice") * 100).cast("bigint")
                   .alias("cents"),
                   F.col("p_size").alias("size"))
           .distinct())
    pid = F.pmod(F.xxhash64("cents", "size"), F.lit(32)).alias("pid")
    prune = (Window.partitionBy("pid")
             .orderBy(F.col("cents").asc(), F.col("size").desc())
             .rowsBetween(Window.unboundedPreceding, -1))
    local = (pts.withColumn("pid", pid)
             .withColumn("lmax", F.max("size").over(prune))
             .filter(F.col("lmax").isNull() | (F.col("lmax") < F.col("size")))
             .drop("pid", "lmax"))
    final = (Window.orderBy(F.col("cents").asc(), F.col("size").desc())
             .rowsBetween(Window.unboundedPreceding, -1))
    return (local.withColumn("gmax", F.max("size").over(final))
            .filter(F.col("gmax").isNull() | (F.col("gmax") < F.col("size")))
            .select(F.round(F.col("cents") / 100.0, 2).alias("price"),
                    "size"))


# ------------------------------------------------------ weighted median

@query("agg_weighted_median", oracle="""
    WITH t AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(round(l_quantity) AS BIGINT) AS w
        FROM lineitem
    ),
    g AS (
        SELECT flag, cents, CAST(sum(w) AS BIGINT) AS w
        FROM t GROUP BY 1, 2
    ),
    c AS (
        SELECT flag, cents, w,
               CAST(sum(w) OVER (PARTITION BY flag ORDER BY cents
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS BIGINT)
                   AS cum,
               CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
        FROM g
    )
    SELECT flag, round(min(cents) / 100.0, 2) AS wmedian_price,
           CAST(min(tw) AS BIGINT) AS total_weight
    FROM c WHERE 2 * cum >= tw
    GROUP BY flag
""")
def agg_weighted_median(spark, sf_dir):
    """Quantity-weighted median price per return flag: the smallest
    value whose cumulative weight reaches half the total — the
    robust-center statistic percentile_approx can only approximate and
    plain median gets wrong when rows carry weights.

    Shape: duplicates collapse FIRST into a (group, value) -> weight
    table (one shuffle with map-side combine — at 100 TB this is the
    whole compression: distinct prices per group, not rows), then one
    per-group cumulative window and a broadcast of per-group totals.
    Determinism: weights and values are exact integers; the defining
    test 2*cum >= total is pure bigint comparison, so both engines
    select the identical value at any scale."""
    t = (T(spark, sf_dir, "lineitem")
         .select(F.col("l_returnflag").alias("flag"),
                 F.round(F.col("l_extendedprice") * 100).cast("bigint")
                 .alias("cents"),
                 F.round(F.col("l_quantity")).cast("bigint").alias("w")))
    g = t.groupBy("flag", "cents").agg(F.sum("w").alias("w"))
    win = (Window.partitionBy("flag").orderBy("cents")
           .rowsBetween(Window.unboundedPreceding, 0))
    c = g.select("flag", "cents", "w",
                 F.sum("w").over(win).alias("cum"),
                 F.sum("w").over(Window.partitionBy("flag")).alias("tw"))
    return (c.filter(2 * F.col("cum") >= F.col("tw"))
            .groupBy("flag")
            .agg(F.round(F.min("cents") / 100.0, 2).alias("wmedian_price"),
                 F.min("tw").alias("total_weight")))


@query("window_range_trailing7d", oracle=f"""
    WITH daily AS (
        SELECT l_returnflag AS flag,
               CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS day,
               {units_sum_sql('l_extendedprice', 100)} AS cents
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1995-04-01'
        GROUP BY 1, 2
    )
    SELECT flag, day,
           round(CAST(sum(cents) OVER (
                     PARTITION BY flag ORDER BY epoch(day)
                     RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)
                 AS BIGINT) / 100.0, 2) AS rev_7d,
           CAST(count(*) OVER (
                     PARTITION BY flag ORDER BY epoch(day)
                     RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_days_7d
    FROM daily
""")
def window_range_trailing7d(spark, sf_dir):
    """Trailing-7-DAY revenue per return flag via a VALUE-based RANGE
    frame over event time — the time-interval frame the ROWS form gets
    wrong whenever the series has gaps (6 PRECEDING rows can span a
    month of sparse days; RANGE 518400s spans exactly a week). Ordered
    by epoch seconds on both engines, so the frame bound is one
    engine-neutral integer.

    Shape: the fact collapses to (flag, day) first — the window runs
    over the day-sized series, never over raw rows; frame sums are
    running cents (exempt from the fixed-point rule per SURVEY §4.3:
    the frame order is pinned) kept exact as bigints anyway."""
    le = (T(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate")
                  < F.lit("1995-04-01").cast("timestamp")))
    daily = (le.groupBy(F.col("l_returnflag").alias("flag"),
                        F.date_trunc("day", F.col("l_shipdate"))
                        .alias("day"))
             .agg(units_sum(F.col("l_extendedprice"), 100).alias("cents")))
    w = (Window.partitionBy("flag")
         .orderBy(F.unix_timestamp(F.col("day")))
         .rangeBetween(-518400, 0))
    return daily.select(
        "flag", "day",
        F.round(F.sum("cents").over(w) / 100.0, 2).alias("rev_7d"),
        F.count("*").over(w).alias("n_days_7d"))
