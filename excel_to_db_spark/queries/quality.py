"""Pipeline-quality operators: declarative data-quality expectations,
graph triangle counts, Z-order layout clustering, deterministic
hash-reservoir sampling, and train/test benchmark decontamination.

These extend the reference's query surface (reference src/main.rs:156-215
delegates arbitrary SELECTs to SQLite; none of these are expressible
there without user-written SQL) with the curation checks a 100 TB
training-data pipeline runs before and after every transform stage.
Every key follows the registry contract: Spark callable + DuckDB oracle
with identical column names (SURVEY.md §4.3 discipline — exact integer
metrics wherever possible, rounded fixed-point elsewhere).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators import physical
from ..operators import text as X
from ..numerics import (
    cents_sum, cents_sum_sql, h32, h32_sql, units_sum, units_sum_sql)
from .registry import query
from .relational import T
from .tradegraph import nation_pairs, nation_pairs_sql


# --------------------------------------------------------------- dq

@query("dq_expectations", oracle="""
    WITH a AS (
        SELECT count(*) AS n,
               count(CASE WHEN o_orderstatus IS NULL THEN 1 END) AS n_null,
               count(DISTINCT o_orderkey) AS n_dist,
               count(CASE WHEN o_totalprice BETWEEN 0 AND 1000000
                     THEN 1 END) AS n_range
        FROM orders
    ),
    orph AS (
        SELECT count(*) AS n_orphan FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)
    )
    SELECT 'row_count' AS check_name, CAST(n AS DOUBLE) AS metric,
           n > 0 AS passed FROM a
    UNION ALL
    SELECT 'null_frac_orderstatus', round(n_null * 1.0 / n, 9),
           n_null = 0 FROM a
    UNION ALL
    SELECT 'unique_frac_orderkey', round(n_dist * 1.0 / n, 9),
           n_dist = n FROM a
    UNION ALL
    SELECT 'price_in_range_frac', round(n_range * 1.0 / n, 9),
           n_range = n FROM a
    UNION ALL
    SELECT 'fk_orphans_custkey', CAST(n_orphan AS DOUBLE),
           n_orphan = 0 FROM orph
""")
def dq_expectations(spark, sf_dir):
    """Declarative data-quality expectation suite (the Deequ pattern):
    completeness, uniqueness, range compliance, and referential
    integrity over `orders`, evaluated as ONE aggregation pass plus one
    broadcast anti-join — not one scan per check.

    The per-check metrics all reduce to counters, so the whole suite is
    a single map-side-combinable agg: at 100 TB this costs one fact scan
    and a 1-row shuffle regardless of how many expectations are
    registered. The FK check is a LEFT ANTI join against the broadcast
    dimension (customer); an anti join that finds nothing short-circuits
    per-partition. Output is the familiar constraint-report shape:
    (check_name, metric, passed)."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer").select("c_custkey")

    a = o.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("o_orderstatus").isNull(), 1)).alias("n_null"),
        F.countDistinct("o_orderkey").alias("n_dist"),
        F.count(F.when(F.col("o_totalprice").between(0, 1_000_000), 1))
         .alias("n_range"))
    orph = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti")
            .agg(F.count("*").alias("n_orphan")))

    checks = a.crossJoin(orph).select(F.explode(F.array(
        F.struct(F.lit("row_count").alias("check_name"),
                 F.col("n").cast("double").alias("metric"),
                 (F.col("n") > 0).alias("passed")),
        F.struct(F.lit("null_frac_orderstatus").alias("check_name"),
                 F.round(F.col("n_null") / F.col("n"), 9).alias("metric"),
                 (F.col("n_null") == 0).alias("passed")),
        F.struct(F.lit("unique_frac_orderkey").alias("check_name"),
                 F.round(F.col("n_dist") / F.col("n"), 9).alias("metric"),
                 (F.col("n_dist") == F.col("n")).alias("passed")),
        F.struct(F.lit("price_in_range_frac").alias("check_name"),
                 F.round(F.col("n_range") / F.col("n"), 9).alias("metric"),
                 (F.col("n_range") == F.col("n")).alias("passed")),
        F.struct(F.lit("fk_orphans_custkey").alias("check_name"),
                 F.col("n_orphan").cast("double").alias("metric"),
                 (F.col("n_orphan") == 0).alias("passed")),
    )).alias("c"))
    return checks.select("c.check_name", "c.metric", "c.passed")


# -------------------------------------------------------- triangles

@query("graph_triangles", oracle=f"""
    WITH {nation_pairs_sql()},
    raw AS (SELECT u, v FROM pairs WHERE u <> v),
    e AS (
        SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM raw
    ),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    nodes AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT node, count(*) AS n_tri FROM nodes GROUP BY node
""")
def graph_triangles(spark, sf_dir):
    """Per-node triangle count on the undirected nation trade graph
    (same edge derivation as graph_pagerank3, weights dropped).

    The classic distributed shape: canonicalize each edge to a < b, then
    two equi-joins — e1(a,b) ⋈ e2(b,c) builds wedges, e3(a,c) closes
    them — so every triangle is found exactly once (a < b < c), never
    six times. Joins partition on the wedge pivot / closing edge key;
    nothing is all-pairs. At 100 TB-scale graphs the standard refinement
    is degree ordering (orient edges low-degree → high-degree before the
    wedge join) which bounds the join fanout by arboricity; the trade
    graph is dense-small so the canonical form suffices here."""
    raw = nation_pairs(spark, sf_dir).filter(F.col("u") != F.col("v"))
    e = (raw.select(F.least("u", "v").alias("a"),
                    F.greatest("u", "v").alias("b"))
         .distinct())

    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (e1.join(e2, F.col("e2.a") == F.col("e1.b"))
           .join(e3, (F.col("e3.a") == F.col("e1.a"))
                 & (F.col("e3.b") == F.col("e2.b")))
           .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"),
                   F.col("e2.b").alias("c")))
    nodes = (tri.select(F.col("a").alias("node"))
             .unionAll(tri.select(F.col("b").alias("node")))
             .unionAll(tri.select(F.col("c").alias("node"))))
    return nodes.groupBy("node").agg(F.count("*").alias("n_tri"))


# ----------------------------------------------------------- zorder

def _morton16(xcol, ycol):
    """Interleave the low 8 bits of x and y into a 16-bit Morton code
    (x in even bit positions, y in odd)."""
    z = F.lit(0).cast("bigint")
    for i in range(8):
        z = (z
             + F.shiftleft(F.shiftright(xcol, i).bitwiseAND(F.lit(1)), 2 * i)
             + F.shiftleft(F.shiftright(ycol, i).bitwiseAND(F.lit(1)),
                           2 * i + 1))
    return z


_MORTON_SQL = " + ".join(
    f"(((x >> {i}) & 1) << {2 * i}) + (((y >> {i}) & 1) << {2 * i + 1})"
    for i in range(8))

_ZORDER_ORACLE = f"""
    WITH pts AS (
        SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem
    ),
    z AS (
        SELECT x, y, ({_MORTON_SQL}) AS zval FROM pts
    )
    SELECT zval // 64 AS bucket, count(*) AS n,
           min(x) AS x_lo, max(x) AS x_hi,
           min(y) AS y_lo, max(y) AS y_hi
    FROM z GROUP BY 1
"""


@query("zorder_layout", oracle=_ZORDER_ORACLE)
def zorder_layout(spark, sf_dir):
    """Z-order (Morton) multi-dimensional clustering — the layout
    transform behind Delta/Iceberg Z-ORDER optimize: interleave the bits
    of two scan dimensions so ONE sort key clusters BOTH columns, then
    report per-bucket min/max ranges (exactly the file-footer statistics
    a 100 TB scan would prune on).

    Each 64-wide Z-bucket spans at most a 16×16 tile of the
    256×256 key space (asserted in tests/test_quality.py), so a
    predicate on either dimension skips ~15/16 of the buckets — vs no
    skipping at all under a single-column sort when filtering on the
    other column. The code itself is 16 codegen'd bit ops per row, no
    shuffle until the bucket agg; in production the zval feeds
    `repartitionByRange(zval).sortWithinPartitions(zval)` before the
    parquet write."""
    pts = (T(spark, sf_dir, "lineitem")
           .select((F.col("l_partkey") % 256).alias("x"),
                   (F.col("l_suppkey") % 256).alias("y")))
    z = pts.select("x", "y", _morton16(F.col("x"), F.col("y")).alias("zval"))
    return (z.groupBy((F.col("zval") / 64).cast("bigint").alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.min("x").alias("x_lo"), F.max("x").alias("x_hi"),
                 F.min("y").alias("y_lo"), F.max("y").alias("y_hi")))


# -------------------------------------------------------- sampling

@query("sample_reservoir", oracle="""
    SELECT o_orderpriority, o_orderkey, CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT o_orderpriority, o_orderkey,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
               ) AS rk
        FROM orders
    ) WHERE rk <= 5
""")
def sample_reservoir(spark, sf_dir):
    """Deterministic fixed-k-per-stratum sample: rank rows inside each
    stratum by a cryptographic hash of their key and keep the k
    smallest — the distributed, re-run-stable equivalent of reservoir
    sampling. No RNG state: retries, stragglers, and different engines
    all draw the SAME sample (this oracle recomputes it bit-for-bit),
    which is what makes 100 TB sampled pipelines debuggable.

    Plan shape: one hash-partitioned window, and Spark's rank-limit
    pushdown (WindowGroupLimit, asserted in tests/test_quality.py)
    keeps only k rows per group per partition BEFORE the exchange — the
    shuffle carries O(k · strata · partitions), not the table."""
    w = (W.partitionBy("o_orderpriority")
         .orderBy(F.md5(F.col("o_orderkey").cast("string")), "o_orderkey"))
    return (T(spark, sf_dir, "orders")
            .select("o_orderpriority", "o_orderkey",
                    F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") <= 5))


# -------------------------------------------------- decontamination

@query("decontam_traintest", oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest([array_to_string(t[i:i+7], ' ')
                           for i in range(1, greatest(len(t) - 6, 1))])
                       AS gram
            FROM toks)
    ),
    train AS (
        SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0
    ),
    test_g AS (
        SELECT doc_id, gram FROM g WHERE doc_id % 2 = 1
    ),
    hits AS (
        SELECT t.doc_id, count(*) AS n_contam
        FROM test_g t JOIN train USING (gram)
        GROUP BY t.doc_id
    ),
    totals AS (
        SELECT doc_id, count(*) AS n_grams FROM test_g GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(t.n_grams, 0) AS n_grams,
           coalesce(h.n_contam, 0) AS n_contam,
           round(coalesce(h.n_contam, 0) * 1.0
                 / greatest(coalesce(t.n_grams, 0), 1), 6) AS contam_ratio
    FROM documents d
    LEFT JOIN totals t ON d.doc_id = t.doc_id
    LEFT JOIN hits   h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 2 = 1
""")
def decontam_traintest(spark, sf_dir):
    """Benchmark decontamination (the GPT-3/Dolma n-gram protocol):
    which held-out ("test", odd doc_id) documents contain word 8-grams
    that also appear in the training split (even doc_id), and what
    fraction of each test doc is contaminated.

    Directional variant of text_ngram_overlap: the train side collapses
    to a DISTINCT gram set, the test side joins against it — an
    inverted-index equi-join on the gram key, never a cross join. Two
    gram-keyed shuffles (train distinct, the join) and one doc-keyed
    re-aggregation, all partially aggregated map-side. At 100 TB the
    gram strings are replaced by xxhash64(gram) to cut the shuffle
    width ~10× (collisions only ever ADD a false contamination flag,
    the conservative direction); kept as strings here so the oracle is
    engine-exact."""
    d = T(spark, sf_dir, "documents")
    g = (d.select("doc_id",
                  F.explode(X.word_ngrams(F.col("text"), 8)).alias("gram"))
         .distinct())
    train = g.filter(F.col("doc_id") % 2 == 0).select("gram").distinct()
    test_g = g.filter(F.col("doc_id") % 2 == 1)
    hits = (test_g.join(train, "gram")
            .groupBy("doc_id").agg(F.count("*").alias("n_contam")))
    totals = test_g.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    return (d.select("doc_id").filter(F.col("doc_id") % 2 == 1)
            .join(totals, "doc_id", "left")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                F.coalesce("n_contam", F.lit(0)).alias("n_contam"),
                F.round(F.coalesce("n_contam", F.lit(0))
                        / F.greatest(F.coalesce("n_grams", F.lit(0)),
                                     F.lit(1)), 6).alias("contam_ratio")))


# --------------------------------------------- sequence patterns

@query("events_pattern", oracle="""
    WITH seqs AS (
        SELECT user_id,
               string_agg(CASE event_type WHEN 'view' THEN 'V'
                                          WHEN 'click' THEN 'C'
                                          WHEN 'purchase' THEN 'P'
                                          ELSE 'x' END,
                          '' ORDER BY ts, event_id) AS s
        FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(length(s) AS BIGINT) AS n_events,
           CAST((length(s) - length(replace(s, 'VCP', ''))) / 3 AS BIGINT)
               AS n_matches
    FROM seqs
    WHERE length(s) <> length(replace(s, 'VCP', ''))
""")
def events_pattern(spark, sf_dir):
    """Row-pattern recognition (SQL MATCH_RECOGNIZE, which Flink/Trino
    ship and Spark lacks): per user, count CONTIGUOUS view→click→purchase
    runs in the time-ordered event sequence.

    Implemented as the composition Spark-first semantics allow: reduce
    each user's ordered events to a one-letter-per-event string (sorted
    struct array → transform → join, all codegen'd; ties broken by
    event_id so both engines order identically), then count pattern hits
    with pure string arithmetic. One shuffle on user_id; state per user
    is one string of their event count — the same bound a
    MATCH_RECOGNIZE NFA would hold. Longer regex patterns (e.g. V C* P
    with gaps) swap the replace() count for regexp_extract_all at the
    same plan shape."""
    e = T(spark, sf_dir, "events")
    letter = (F.when(F.col("event_type") == "view", "V")
              .when(F.col("event_type") == "click", "C")
              .when(F.col("event_type") == "purchase", "P")
              .otherwise("x"))
    seqs = (e.select("user_id",
                     F.struct("ts", "event_id", letter.alias("l")).alias("ev"))
            .groupBy("user_id")
            .agg(F.array_join(
                F.transform(F.array_sort(F.collect_list("ev")),
                            lambda s: s["l"]), "").alias("s")))
    n_pat = (F.length("s") - F.length(F.replace(F.col("s"), F.lit("VCP"))))
    return (seqs.select("user_id",
                        F.length("s").cast("bigint").alias("n_events"),
                        (n_pat / 3).cast("bigint").alias("n_matches"))
            .filter(F.col("n_matches") > 0))


# ------------------------------------------------ mergeable sketches

@query("bitmap_distinct_rollup", oracle="""
    SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
""")
def bitmap_distinct_rollup(spark, sf_dir):
    """EXACT mergeable distinct counting via roaring-style bitmaps
    (Spark 3.5+ bitmap_* functions) — the deterministic sibling of
    hll_mergeable: per-(type, DAY) partial bitmaps are OR-merged up to
    weekly counts, so the weekly number is exact yet never re-scans the
    fact rows. That re-aggregability is the warehouse pattern for
    distinct users at 100 TB: daily bitmap partials persist a few KB
    per key and any coarser rollup (week/month/quarter) is a cheap
    bitmap_or_agg over them, where COUNT(DISTINCT) would rescan the
    corpus. Bound: bitmap_bit_position buckets the key space, so this
    is exact for integer ids; arbitrary keys first map through a dense
    id dimension. One bitmap covers one 32768-wide BUCKET of the id
    space (bitmap_bucket_number), so the bucket id is part of every
    grouping key and the final count sums bucket counts — ids 0 and 1
    live in buckets 0 and 1 at the SAME bit position, so dropping the
    bucket key silently undercounts (found by the oracle gate). Three
    map-side-combinable shuffles, all on (type, week[, day], bucket)."""
    e = T(spark, sf_dir, "events")
    day = (e.select(F.col("event_type"),
                    F.date_trunc("week", F.col("ts")).cast("date")
                    .alias("week"),
                    F.date_trunc("day", F.col("ts")).alias("day"),
                    F.bitmap_bucket_number("user_id").alias("bkt"),
                    F.bitmap_bit_position("user_id").alias("pos"))
           .groupBy("event_type", "week", "day", "bkt")
           .agg(F.bitmap_construct_agg("pos").alias("bm")))
    wk = (day.groupBy("event_type", "week", "bkt")
          .agg(F.bitmap_count(F.bitmap_or_agg("bm")).alias("n_bkt")))
    return (wk.groupBy("event_type", "week")
            .agg(F.sum("n_bkt").alias("n_users")))


@query("hll_mergeable", oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS merged_within_2pct,
           TRUE AS direct_within_2pct
    FROM events GROUP BY event_type
""")
def hll_mergeable(spark, sf_dir):
    """Mergeable-sketch contract for distributed distinct counting
    (Apache DataSketches HLL, built into Spark 4): sketch two DISJOINT
    halves of the event log independently, union the binary sketches,
    and check that BOTH the merged and the single-pass estimates land
    within the published ±2 % bound of the exact count (lgK=12 →
    0.8 % RSE). Mergeability — 1000 executors sketching locally and
    shipping a few KB each — is the whole 100 TB story; the bound is
    the falsifiable part DuckDB can verify without replaying the
    sketch internals.

    Deliberately NOT asserted: bit-equality of merged vs direct
    estimates. That holds only while the sketches stay in sparse mode
    (true at sf0.001/0.01, ~150 users) and breaks past the dense
    transition (sf0.1, 1500 users — measured): the union's register
    folding is an estimate-preserving-to-within-RSE operation, not an
    identity. Each half remains one partial-aggregable sketch pass."""
    e = T(spark, sf_dir, "events")
    h0 = (e.filter(F.col("event_id") % 2 == 0).groupBy("event_type")
          .agg(F.hll_sketch_agg("user_id").alias("sk")))
    h1 = (e.filter(F.col("event_id") % 2 == 1).groupBy("event_type")
          .agg(F.hll_sketch_agg("user_id").alias("sk")))
    merged = (h0.unionAll(h1).groupBy("event_type")
              .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                   .alias("est_merged")))
    direct = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_direct"),
        F.countDistinct("user_id").alias("n_exact"))
    return (direct.join(merged, "event_type")
            .select("event_type", "n_exact",
                    (F.abs(F.col("est_merged") - F.col("n_exact"))
                     <= 0.02 * F.col("n_exact")).alias("merged_within_2pct"),
                    (F.abs(F.col("est_direct") - F.col("n_exact"))
                     <= 0.02 * F.col("n_exact")).alias("direct_within_2pct")))


# d=4 pairwise-independent-ish affine rows over a 32-bit md5 base.
# Multipliers stay < 2^20 so a*hb < 2^52: exact in BIGINT on both
# engines, no modular-multiplication gymnastics needed.
_CMS_A = (40503, 265443, 113259, 99733)
_CMS_C = (17, 257, 65537, 5041)
_CMS_W = 128
_CMS_M32 = 4_294_967_296

_CMS_CELL_SQL = """
    (CASE j WHEN 0 THEN 40503 WHEN 1 THEN 265443
            WHEN 2 THEN 113259 ELSE 99733 END * hb
     + CASE j WHEN 0 THEN 17 WHEN 1 THEN 257
              WHEN 2 THEN 65537 ELSE 5041 END)
    % 4294967296 % 128
"""


@query("sketch_count_min", oracle=f"""
    WITH base AS (
        SELECT user_id,
               {h32_sql("CAST(user_id AS VARCHAR)")} AS hb
        FROM events
    ),
    cells AS (
        SELECT j.j AS j, {_CMS_CELL_SQL} AS cell, user_id
        FROM base, (VALUES (0), (1), (2), (3)) AS j(j)
    ),
    sketch AS (
        SELECT j, cell, CAST(count(*) AS BIGINT) AS c
        FROM cells GROUP BY 1, 2
    ),
    cand AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS true_cnt,
               {h32_sql("CAST(user_id AS VARCHAR)")} AS hb
        FROM events GROUP BY 1
        ORDER BY true_cnt DESC, user_id LIMIT 10
    ),
    ccells AS (
        SELECT user_id, true_cnt, j.j AS j, {_CMS_CELL_SQL} AS cell
        FROM cand, (VALUES (0), (1), (2), (3)) AS j(j)
    )
    SELECT cc.user_id, cc.true_cnt, min(s.c) AS cms_est,
           min(s.c) >= cc.true_cnt AS never_undercounts
    FROM ccells cc JOIN sketch s ON s.j = cc.j AND s.cell = cc.cell
    GROUP BY cc.user_id, cc.true_cnt
""")
def sketch_count_min(spark, sf_dir):
    """Count-min sketch over event user frequencies: a d=4 x w=128
    fixed-seed sketch built in ONE map-side-combinable aggregation,
    then queried for the 10 true-heaviest users. CMS is the streaming
    heavy-hitter primitive the warehouse pairs with hll_mergeable /
    bitmap_distinct_rollup: 1000 executors each build a 512-cell grid
    locally and merging is cell-wise addition — a few KB per executor
    crosses the wire regardless of corpus size, and the one-sided
    error bound (estimate >= truth, over by <= e*N/w with prob
    1-exp(-d) per query) is checked as a column.

    Determinism: the hash family is affine over the first 32 bits of
    md5 (engine-portable) with multipliers < 2^20, so every product
    stays < 2^52 — exact BIGINT on both engines, no float, no
    engine-specific hash. The candidate set is the EXACT top-10
    (TakeOrderedAndProject with user_id tiebreak), so the key also
    exercises the exact-vs-sketch comparison a user would run."""
    e = T(spark, sf_dir, "events")

    def hb(col):
        return h32(F.col(col).cast("string"))

    def cells(hcol):
        return F.posexplode(F.array(*[
            (F.lit(a) * F.col(hcol) + F.lit(c)) % _CMS_M32 % _CMS_W
            for a, c in zip(_CMS_A, _CMS_C)]))

    sketch = (e.select(hb("user_id").alias("hb"))
              .select(cells("hb").alias("j", "cell"))
              .groupBy("j", "cell").agg(F.count("*").alias("c")))
    cand = (e.groupBy("user_id").agg(F.count("*").alias("true_cnt"))
            .orderBy(F.desc("true_cnt"), "user_id").limit(10)
            .withColumn("hb", hb("user_id")))
    ccells = cand.select("user_id", "true_cnt",
                         cells("hb").alias("j", "cell"))
    return (ccells.join(F.broadcast(sketch), ["j", "cell"])
            .groupBy("user_id", "true_cnt")
            .agg(F.min("c").alias("cms_est"))
            .select("user_id", "true_cnt", "cms_est",
                    (F.col("cms_est") >= F.col("true_cnt"))
                    .alias("never_undercounts")))


# ----------------------------------------------- salted distinct

@query("distinct_salted", oracle="""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
""")
def distinct_salted(spark, sf_dir):
    """Exact distinct count under a HOT KEY: two-stage salted
    aggregation. Stage 1 groups by (key, hash(user) % 16) — each salt
    bucket holds a disjoint slice of the key's distinct values, so
    per-reducer cardinality is bounded at |distinct|/16 even when one
    key owns billions of distincts (where a plain countDistinct's
    single per-key reducer OOMs). Stage 2 SUMs the per-bucket distinct
    counts — correct because the salt is a function of the value being
    distinct-counted, never random.

    This is the distinct-count sibling of `join_salted`: the generic
    recipe for any agg whose per-key state is unbounded. The oracle is
    the plain DISTINCT — identical result, hotspot-free plan."""
    e = T(spark, sf_dir, "events")
    # pmod, not %: Spark's % keeps xxhash64's sign, which would silently
    # double the bucket count to 31 asymmetric buckets
    buckets = (e.groupBy(
        "event_type",
        F.pmod(F.xxhash64("user_id"), F.lit(16)).alias("salt"))
        .agg(F.countDistinct("user_id").alias("d")))
    return (buckets.groupBy("event_type")
            .agg(F.sum("d").alias("n_users")))


# ------------------------------------------------- winsorization

@query("winsorize_group", oracle=f"""
    WITH q AS (
        SELECT o_orderpriority,
               quantile_cont(o_totalprice, 0.05) AS lo,
               quantile_cont(o_totalprice, 0.95) AS hi
        FROM orders GROUP BY 1
    )
    SELECT o.o_orderpriority,
           count(CASE WHEN o_totalprice < lo THEN 1 END) AS n_clip_lo,
           count(CASE WHEN o_totalprice > hi THEN 1 END) AS n_clip_hi,
           {cents_sum_sql('greatest(least(o_totalprice, hi), lo)')}
               AS winsorized_sum
    FROM orders o JOIN q USING (o_orderpriority)
    GROUP BY 1
""")
def winsorize_group(spark, sf_dir):
    """Per-group winsorization (clip to [p05, p95]) — the outlier
    treatment every quality-scoring pipeline applies before averaging
    heavy-tailed metrics. Two-pass shape: exact per-group quantiles
    (dimension-sized result) broadcast back onto the fact scan, clip,
    re-aggregate in integer cents. Both engines interpolate
    quantile_cont identically, so the clip bounds — and therefore every
    comparison against them — are bit-equal; the clipped sum follows
    the cents rule. At 100 TB the first pass is the only per-group
    sort; swap in approx_percentile for a sketch-bound first pass at
    the same plan shape."""
    o = T(spark, sf_dir, "orders")
    q = (o.groupBy("o_orderpriority")
         .agg(F.percentile("o_totalprice", F.lit(0.05)).alias("lo"),
              F.percentile("o_totalprice", F.lit(0.95)).alias("hi")))
    clipped = F.greatest(F.least(F.col("o_totalprice"), F.col("hi")),
                         F.col("lo"))
    return (o.join(F.broadcast(q), "o_orderpriority")
            .groupBy("o_orderpriority")
            .agg(F.count(F.when(F.col("o_totalprice") < F.col("lo"), 1))
                 .alias("n_clip_lo"),
                 F.count(F.when(F.col("o_totalprice") > F.col("hi"), 1))
                 .alias("n_clip_hi"),
                 cents_sum(clipped).alias("winsorized_sum")))


# ----------------------------------------------- observed metrics

@query("observed_metrics", oracle=f"""
    SELECT count(*) AS n_rows,
           CAST(count(CASE WHEN o_totalprice > 400000 THEN 1 END)
                AS BIGINT) AS n_big,
           {cents_sum_sql('o_totalprice')}
               AS sum_price
    FROM orders
""")
def observed_metrics(spark, sf_dir):
    """In-flight pipeline metrics via df.observe() (the Observation
    API): counters and sums are accumulated ON the rows as they stream
    through a real action — zero extra scans, exactly how a production
    pipeline meters itself (row counts, null rates, money totals) while
    doing its actual work. The observed values are returned AS the
    result and must equal a from-scratch aggregation (the oracle).

    At 100 TB this is the difference between metering for free on the
    pass you were already making and paying a second full scan per
    metric batch; in Structured Streaming the same API surfaces
    per-micro-batch metrics through the listener bus."""
    from pyspark.sql import Observation

    o = T(spark, sf_dir, "orders")
    obs = Observation("dq")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_totalprice") > 400000, 1)).alias("n_big"),
        cents_sum(F.col("o_totalprice")).alias("sum_price"))
    # the action that drives rows past the observation point
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_big"], m["sum_price"])],
        "n_rows long, n_big long, sum_price double")


@query("text_compression_quality", oracle="""
    WITH g AS (
        SELECT doc_id, length(text) AS raw_chars,
               [substr(text, i, 8)
                for i in range(1, length(text) - 6)] AS grams
        FROM documents WHERE length(text) >= 8
    )
    SELECT doc_id, raw_chars,
           len(grams) AS n_grams8,
           len(list_distinct(grams)) AS n_distinct8,
           round(len(list_distinct(grams)) * 1.0 / len(grams), 5)
               AS compression_ratio
    FROM g
    ORDER BY len(list_distinct(grams)) * 1.0 / len(grams) ASC, doc_id
    LIMIT 20
""")
def text_compression_quality(spark, sf_dir):
    """Compressibility quality signal — the cheap spam/boilerplate
    detector (highly repetitive text compresses far below normal prose;
    the gzip-ratio filter in every corpus-cleaning recipe). Returns the
    20 most compressible (most suspect) documents.

    Cross-engine contract (VERDICT r4 #6): the compressibility statistic
    is the CHARACTER-level LZ-complexity proxy distinct-8-grams /
    total-8-grams — integer-exact on both engines, the dictionary-size
    measure an LZ compressor's output tracks — because zlib's exact
    byte counts are implementation-defined and DuckDB has no zlib, so a
    real-DEFLATE key could never be hash-checked cross-engine.
    Character 8-grams catch sub-word degeneracy ('aaaa…') that the
    word-gram `text_repetition` filter misses. Pure per-row array
    arithmetic + a 20-row top-k: zero shuffles before the final
    TakeOrderedAndProject, scales with corpus bytes. Ordering uses the
    exact integer-derived double ratio (IEEE division of identical
    ints is identical on both engines); ties break by doc_id."""
    # Per-row 8-gram HOFs are compute-heavy enough that the narrow
    # local documents scan (1-2 splits) serializes them (r9 skew audit).
    d = physical.fan_out(T(spark, sf_dir, "documents"))
    grams = F.expr(
        "transform(sequence(1, length(text) - 7), i -> substring(text, i, 8))")
    g = (d.filter(F.length("text") >= 8)
         .select("doc_id", F.length("text").alias("raw_chars"),
                 F.size(grams).alias("n_grams8"),
                 F.size(F.array_distinct(grams)).alias("n_distinct8")))
    ratio = F.col("n_distinct8") / F.col("n_grams8").cast("double")
    return (g.orderBy(ratio.asc(), "doc_id").limit(20)
            .select("doc_id", "raw_chars", "n_grams8", "n_distinct8",
                    F.round(ratio, 5).alias("compression_ratio")))


@query("graph_assortativity", oracle=f"""
    WITH {nation_pairs_sql(f"{units_sum_sql('l_extendedprice', 100)} AS cents")},
    w AS (SELECT u, v, cents FROM pairs WHERE u <> v),
    top AS (
        -- per-source top-2 by trade value: the same sparsification as
        -- graph_bfs_levels (the raw nation graph is near-complete, so
        -- degrees are constant and assortativity is undefined on it)
        SELECT u, v FROM (
            SELECT u, v, row_number() OVER (PARTITION BY u
                         ORDER BY cents DESC, v) AS rk
            FROM w
        ) WHERE rk <= 2
    ),
    e AS (
        SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM top
    ),
    deg AS (
        SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e
        ) GROUP BY n
    ),
    ends AS (
        -- each undirected edge contributes BOTH orientations, the
        -- standard symmetric formulation of degree assortativity
        SELECT da.d AS x, db.d AS y
        FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b
        UNION ALL
        SELECT db.d AS x, da.d AS y
        FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM ends
    )
    SELECT n // 2 AS n_edges,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 5) AS assortativity
    FROM m
""")
def graph_assortativity(spark, sf_dir):
    """Degree assortativity of the nation trade graph: the Pearson
    correlation of endpoint degrees over edges — do high-degree trade
    hubs connect to other hubs (positive) or to the periphery
    (negative, the typical core-periphery signature)? Completes the
    graph-stats family (pagerank / triangles / BFS / CC).

    Shape: the weighted nation-pair aggregation (one fact shuffle,
    dims broadcast) is sparsified to each source's top-2 trade partners
    — the same edge list as graph_bfs_levels, needed because the raw
    nation graph is near-complete (constant degree => zero variance =>
    undefined correlation). Degrees are one
    aggregate over exploded endpoints; both orientations of each edge
    union (the symmetric formulation) and ALL Pearson moments are exact
    bigints from one pass — the correlation is a fixed float expression
    rounded at 5 dp."""
    from pyspark.sql.window import Window as _W

    w = (nation_pairs(spark, sf_dir,
                      units_sum(F.col("l_extendedprice"), 100).alias("cents"))
         .filter(F.col("u") != F.col("v")))
    wrk = _W.partitionBy("u").orderBy(F.col("cents").desc(), F.col("v"))
    top = (w.withColumn("rk", F.row_number().over(wrk))
           .filter(F.col("rk") <= 2).select("u", "v"))
    e = (top.select(F.least("u", "v").alias("a"),
                    F.greatest("u", "v").alias("b"))
         .distinct())
    deg = (e.select(F.col("a").alias("n"))
           .unionAll(e.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count("*").alias("d")))
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("dx"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("dy"))
    pair = (e.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
            .select(F.col("dx").alias("x"), F.col("dy").alias("y")))
    ends = pair.unionAll(pair.select(F.col("y").alias("x"),
                                     F.col("x").alias("y")))
    m = ends.agg(F.count("*").alias("n"),
                 F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                 F.sum(F.col("x") * F.col("x")).alias("sxx"),
                 F.sum(F.col("y") * F.col("y")).alias("syy"),
                 F.sum(F.col("x") * F.col("y")).alias("sxy"))
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    cov = d("n") * F.col("sxy") - d("sx") * F.col("sy")
    vx = d("n") * F.col("sxx") - d("sx") * F.col("sx")
    vy = d("n") * F.col("syy") - d("sy") * F.col("sy")
    return m.select(F.expr("n DIV 2").alias("n_edges"),
                    F.round(cov / (F.sqrt(vx) * F.sqrt(vy)), 5)
                    .alias("assortativity"))


# ---------------------------------------------- quality gains curve

_SW_SQL_GAINS = "[" + ", ".join(
    f"'{w}'" for w in X.LANG_STOPWORDS["en"]) + "]"


@query("eval_quality_gains", oracle=f"""
    WITH feat AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fp,
               len(string_split(text, ' ')) AS n_tok,
               len(list_distinct(string_split(text, ' '))) AS n_dis,
               len(list_filter(string_split(text, ' '),
                               t -> list_contains({_SW_SQL_GAINS}, t)))
                   AS stop
        FROM documents
    ),
    q AS (
        SELECT doc_id, fp,
               CAST(round(round(least(n_tok / 20.0, 1.0)
                                * least(n_dis * 2.0 / n_tok, 1.0)
                                * least(stop * 10.0 / n_tok, 1.0), 6)
                          * 1000000) AS BIGINT) AS qm
        FROM feat
    ),
    lab AS (
        SELECT q.doc_id, q.qm,
               CASE WHEN c.sz > 1 THEN 1 ELSE 0 END AS is_dup
        FROM q JOIN (SELECT fp, count(*) AS sz FROM q GROUP BY fp) c
          ON q.fp = c.fp
    ),
    rnk AS (
        SELECT qm, is_dup,
               row_number() OVER (ORDER BY qm, doc_id) AS rr,
               count(*) OVER () AS n_total
        FROM lab
    ),
    dec AS (
        SELECT CAST(((rr - 1) * 10) // n_total AS BIGINT) AS decile,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(is_dup) AS BIGINT) AS n_dups
        FROM rnk GROUP BY 1
    ),
    cum AS (
        SELECT decile, n_docs, n_dups,
               CAST(sum(n_docs) OVER w AS BIGINT) AS cum_docs,
               CAST(sum(n_dups) OVER w AS BIGINT) AS cum_dups,
               CAST(sum(n_docs) OVER () AS BIGINT) AS n_total,
               CAST(sum(n_dups) OVER () AS BIGINT) AS tot_dups
        FROM dec
        WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT decile, n_docs, n_dups, cum_dups,
           round(100.0 * cum_dups
                 / (CASE WHEN tot_dups = 0 THEN 1 ELSE tot_dups END), 4)
               AS capture_pct,
           round((CAST(cum_dups AS DOUBLE) * n_total)
                 / (CAST(cum_docs AS DOUBLE)
                    * (CASE WHEN tot_dups = 0 THEN 1
                       ELSE tot_dups END)), 4) AS lift
    FROM cum
""")
def eval_quality_gains(spark, sf_dir):
    """Cumulative-gains (lift) curve for quality-targeted dedup triage:
    rank documents by the shared composite quality score ASCENDING
    (worst first), split into 10 global deciles, and measure what
    fraction of all duplicate documents the first k deciles capture —
    the curve a curation team reads before deciding how deep a
    quality-ordered review/filter pass must go. A lift above 1.0 in
    the early deciles certifies that low quality PREDICTS duplication;
    a flat curve says the score is useless for targeting.

    Same one-definition contract as the other quality keys: the score
    is operators/text.quality_score, the duplicate label is the
    sorted-word-set fingerprint family (`dedup_exact`), both snapped
    to exact integers (micro-units / 0-1 flags) before any ranking or
    summation. The global rank uses operators/ranking.distributed_rank
    (two-phase percentile bucketing — no single-partition window over
    the corpus); deciles come from exact integer arithmetic on the
    rank, and the cumulative window runs over 10 decile rows, not the
    data. One fingerprint shuffle + one rank pipeline + one 10-row
    window at any corpus size."""
    from ..operators.ranking import distributed_rank

    d = T(spark, sf_dir, "documents")
    t = F.col("text")
    q = d.select(
        "doc_id", X.fingerprint(t).alias("fp"),
        F.round(F.round(X.quality_score(t), 6) * 1000000)
        .cast("bigint").alias("qm"))
    cl = q.groupBy("fp").agg(F.count("*").alias("sz"))
    lab = (q.join(cl, "fp")
           .select("doc_id", "qm",
                   F.when(F.col("sz") > 1, 1).otherwise(0)
                   .alias("is_dup")))
    rnk = distributed_rank(lab, "qm", "doc_id", "rr")
    n_total = lab.agg(F.count("*").alias("n_total"))
    dec = (rnk.crossJoin(F.broadcast(n_total))
           .select(F.expr("CAST(((rr - 1) * 10) DIV n_total AS BIGINT)")
                   .alias("decile"), "is_dup")
           .groupBy("decile")
           .agg(F.count("*").alias("n_docs"),
                F.sum("is_dup").alias("n_dups")))
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.partitionBy()
    cum = (dec
           .withColumn("cum_docs", F.sum("n_docs").over(w))
           .withColumn("cum_dups", F.sum("n_dups").over(w))
           .withColumn("n_total", F.sum("n_docs").over(wall))
           .withColumn("tot_dups", F.sum("n_dups").over(wall)))
    safe_dups = F.when(F.col("tot_dups") == 0, 1).otherwise(
        F.col("tot_dups"))
    return cum.select(
        "decile", "n_docs", "n_dups", "cum_dups",
        F.round(100.0 * F.col("cum_dups") / safe_dups, 4)
        .alias("capture_pct"),
        F.round((F.col("cum_dups").cast("double") * F.col("n_total"))
                / (F.col("cum_docs").cast("double") * safe_dups), 4)
        .alias("lift"))
