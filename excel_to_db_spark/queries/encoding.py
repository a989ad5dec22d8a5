"""Storage-encoding advisor pack (round 6, batch 81). The reference
engine (294 LoC of Rust delegating to SQLite, reference src/main.rs)
has no storage surface; four Tier-C mission operators — the
encoding-choice arithmetic a columnar warehouse (parquet writer
tuning, `zorder_layout`'s sibling) runs over its own columns, all
exact integers:

- enc_rle_runs: run-length census of three low-cardinality lineitem
  columns in the pinned storage order — rows/runs is the RLE
  compression ceiling.
- enc_dict_advisor: dictionary-encoding advisor per string column —
  NDV, exact total/dictionary byte volumes, the plain/dict ratio,
  and the recommend flag at the parquet-style NDV/rows threshold.
- enc_delta_bitwidth: DELTA_BINARY_PACKED preview — bit-length
  histogram of successive l_orderkey deltas in storage order (bit
  length via length(bin(x)) — the `sketch_hll_manual` trick, no
  logs), plus the packed-bits-per-value estimate vs plain 64.
- enc_sort_layout_gain: how much RLE improves if the table is
  REWRITTEN sorted by the column (runs in natural vs sorted order;
  sorted runs = NDV exactly) — the cheap preview of a sort/z-order
  rewrite's payoff.

DISTRIBUTED RUN COUNTING (the load-bearing design): a naive
lag-over-everything window is single-partition on a fact table — the
anti-pattern the r3/r4 plan purge removed. Instead rows bucket into
ORDERKEY BLOCKS (l_orderkey div 64): within-block runs/deltas come
from a block-partitioned window (parallel), and block-boundary
effects are stitched on the BOUNDED per-block table (last value of
each block vs first value of the next existing block, one tiny
window). Total runs = sum(block runs) - sum(boundary matches); the
boundary deltas join the histogram as explicit extra rows. Both
engines run the same two-level algorithm."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T

_BLK = 64          # orderkeys per run-counting block

# Pinned storage total order: the synthetic lineitem has ~25%
# duplicate (orderkey, linenumber) pairs, so the order key is a
# zero-padded composite over EVERY compared column — residual ties
# are then bit-identical in all compared columns and cannot move a
# run boundary on either engine.
_POS_SQL = ("lpad(CAST(l_orderkey AS VARCHAR), 12, '0')"
            " || lpad(CAST(l_linenumber AS VARCHAR), 2, '0')"
            " || lpad(CAST(l_partkey AS VARCHAR), 10, '0')"
            " || lpad(CAST(l_suppkey AS VARCHAR), 10, '0')"
            " || lpad(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)"
            " AS VARCHAR), 12, '0')"
            " || lpad(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)"
            ", 3, '0')"
            " || l_returnflag || l_linestatus"
            " || CAST(CAST(l_shipdate AS DATE) AS VARCHAR)")
_POS_SPARK = _POS_SQL.replace("VARCHAR", "STRING")

_BLOCKS_SQL = """
    marked AS (
        SELECT l_orderkey // {blk} AS blk,
               l_orderkey,
               {pos} AS pos,
               l_returnflag, l_linestatus,
               CAST(l_shipdate AS DATE) AS sd,
               CASE WHEN l_returnflag <> lag(l_returnflag) OVER w
                    THEN 1 ELSE 0 END AS c_rf,
               CASE WHEN l_linestatus <> lag(l_linestatus) OVER w
                    THEN 1 ELSE 0 END AS c_ls,
               CASE WHEN CAST(l_shipdate AS DATE)
                         <> lag(CAST(l_shipdate AS DATE)) OVER w
                    THEN 1 ELSE 0 END AS c_sd
        FROM lineitem
        WINDOW w AS (PARTITION BY l_orderkey // {blk}
                     ORDER BY {pos})
    ),
    blocks AS MATERIALIZED (
        SELECT blk,
               CAST(count(*) AS BIGINT) AS n,
               CAST(1 + sum(c_rf) AS BIGINT) AS runs_rf,
               CAST(1 + sum(c_ls) AS BIGINT) AS runs_ls,
               CAST(1 + sum(c_sd) AS BIGINT) AS runs_sd,
               min_by(l_returnflag, pos) AS first_rf,
               max_by(l_returnflag, pos) AS last_rf,
               min_by(l_linestatus, pos) AS first_ls,
               max_by(l_linestatus, pos) AS last_ls,
               min_by(sd, pos) AS first_sd,
               max_by(sd, pos) AS last_sd,
               min(l_orderkey) AS first_key,
               max(l_orderkey) AS last_key
        FROM marked GROUP BY blk
    ),
    stitched AS (
        SELECT blk, n, runs_rf, runs_ls, runs_sd,
               first_key, last_key,
               lag(last_rf) OVER wb AS p_rf,
               lag(last_ls) OVER wb AS p_ls,
               lag(last_sd) OVER wb AS p_sd,
               lag(last_key) OVER wb AS p_key,
               first_rf, first_ls, first_sd
        FROM blocks
        WINDOW wb AS (ORDER BY blk)
    ),
    runs AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_rows,
               CAST(sum(runs_rf) - sum(CASE WHEN first_rf = p_rf
                    THEN 1 ELSE 0 END) AS BIGINT) AS runs_rf,
               CAST(sum(runs_ls) - sum(CASE WHEN first_ls = p_ls
                    THEN 1 ELSE 0 END) AS BIGINT) AS runs_ls,
               CAST(sum(runs_sd) - sum(CASE WHEN first_sd = p_sd
                    THEN 1 ELSE 0 END) AS BIGINT) AS runs_sd
        FROM stitched
    )
""".format(blk=_BLK, pos=_POS_SQL)


def _blocks(spark, sf_dir):
    """Per-block run/boundary stats — the distributed half of the run
    counter (exact Spark twin of `_BLOCKS_SQL`'s `blocks`)."""
    li = (T(spark, sf_dir, "lineitem")
          .withColumn("pos", F.expr(_POS_SPARK)))
    wb = (Window.partitionBy(F.expr(f"l_orderkey div {_BLK}"))
          .orderBy("pos"))
    sd = F.col("l_shipdate").cast("date")
    marked = li.select(
        F.expr(f"l_orderkey div {_BLK}").alias("blk"),
        "l_orderkey", "pos", "l_returnflag", "l_linestatus",
        sd.alias("sd"),
        F.when(F.col("l_returnflag")
               != F.lag("l_returnflag").over(wb), 1).otherwise(0)
        .alias("c_rf"),
        F.when(F.col("l_linestatus")
               != F.lag("l_linestatus").over(wb), 1).otherwise(0)
        .alias("c_ls"),
        F.when(sd != F.lag(sd).over(wb), 1).otherwise(0).alias("c_sd"))
    pos = F.col("pos")
    return (marked.groupBy("blk").agg(
        F.count("*").alias("n"),
        (1 + F.sum("c_rf")).cast("bigint").alias("runs_rf"),
        (1 + F.sum("c_ls")).cast("bigint").alias("runs_ls"),
        (1 + F.sum("c_sd")).cast("bigint").alias("runs_sd"),
        F.min_by("l_returnflag", pos).alias("first_rf"),
        F.max_by("l_returnflag", pos).alias("last_rf"),
        F.min_by("l_linestatus", pos).alias("first_ls"),
        F.max_by("l_linestatus", pos).alias("last_ls"),
        F.min_by("sd", pos).alias("first_sd"),
        F.max_by("sd", pos).alias("last_sd"),
        F.min("l_orderkey").alias("first_key"),
        F.max("l_orderkey").alias("last_key"))
        .transform(physical.cut))


def _stitched_runs(blocks):
    """Bounded-table half: stitch adjacent blocks (one tiny window)
    and reduce to global run counts."""
    wb = Window.orderBy("blk")
    st = blocks.select(
        "blk", "n", "runs_rf", "runs_ls", "runs_sd",
        F.lag("last_rf").over(wb).alias("p_rf"),
        F.lag("last_ls").over(wb).alias("p_ls"),
        F.lag("last_sd").over(wb).alias("p_sd"),
        "first_rf", "first_ls", "first_sd")
    return st.agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        (F.sum("runs_rf") - F.sum(
            F.when(F.col("first_rf") == F.col("p_rf"), 1).otherwise(0)))
        .cast("bigint").alias("runs_rf"),
        (F.sum("runs_ls") - F.sum(
            F.when(F.col("first_ls") == F.col("p_ls"), 1).otherwise(0)))
        .cast("bigint").alias("runs_ls"),
        (F.sum("runs_sd") - F.sum(
            F.when(F.col("first_sd") == F.col("p_sd"), 1).otherwise(0)))
        .cast("bigint").alias("runs_sd"))


@query("enc_rle_runs", oracle=f"""
    WITH {_BLOCKS_SQL}
    SELECT n_rows, runs_rf, runs_ls, runs_sd,
           n_rows * 1000 // runs_rf AS rle_ratio_rf_milli,
           n_rows * 1000 // runs_ls AS rle_ratio_ls_milli,
           n_rows * 1000 // runs_sd AS rle_ratio_sd_milli
    FROM runs
""")
def enc_rle_runs(spark, sf_dir):
    """RLE ceiling census via the two-level distributed run counter:
    within-block runs from a block-partitioned window (parallel at
    any scale), block boundaries stitched on the bounded per-block
    table (total = sum of block runs minus boundary matches). Rows
    per run (milli) is the best RLE can do on the column as laid out
    today."""
    runs = _stitched_runs(_blocks(spark, sf_dir))
    return runs.select(
        "n_rows", "runs_rf", "runs_ls", "runs_sd",
        F.expr("n_rows * 1000 div runs_rf").alias("rle_ratio_rf_milli"),
        F.expr("n_rows * 1000 div runs_ls").alias("rle_ratio_ls_milli"),
        F.expr("n_rows * 1000 div runs_sd").alias("rle_ratio_sd_milli"))


@query("enc_dict_advisor", oracle="""
    WITH cols AS (
        SELECT 'p_brand' AS col, count(*) AS n_rows,
               count(DISTINCT p_brand) AS ndv,
               CAST(sum(length(p_brand)) AS BIGINT) AS plain_bytes,
               (SELECT CAST(sum(length(x)) AS BIGINT) FROM
                    (SELECT DISTINCT p_brand AS x FROM part))
                   AS dict_bytes
        FROM part
        UNION ALL
        SELECT 'p_type', count(*), count(DISTINCT p_type),
               CAST(sum(length(p_type)) AS BIGINT),
               (SELECT CAST(sum(length(x)) AS BIGINT) FROM
                    (SELECT DISTINCT p_type AS x FROM part))
        FROM part
        UNION ALL
        SELECT 'p_name', count(*), count(DISTINCT p_name),
               CAST(sum(length(p_name)) AS BIGINT),
               (SELECT CAST(sum(length(x)) AS BIGINT) FROM
                    (SELECT DISTINCT p_name AS x FROM part))
        FROM part
    )
    SELECT col, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(ndv AS BIGINT) AS ndv, plain_bytes, dict_bytes,
           plain_bytes * 1000 // (dict_bytes + 4 * n_rows)
               AS gain_milli,
           CASE WHEN ndv * 10 <= n_rows THEN 1 ELSE 0 END AS recommend
    FROM cols
""")
def enc_dict_advisor(spark, sf_dir):
    """Dictionary-encoding advisor for the part string columns: exact
    NDV, plain byte volume, dictionary byte volume, and the gain
    ratio against dict + 4-byte codes — with the parquet-writer-style
    recommend rule (NDV <= 10% of rows). Three aggregates over one
    dimension table; the same arithmetic runs per row group at
    scale."""
    p = T(spark, sf_dir, "part")

    def one(col):
        tot = p.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct(col).cast("bigint").alias("ndv"),
            F.sum(F.length(col)).cast("bigint").alias("plain_bytes"))
        d = (p.select(F.col(col).alias("x")).distinct()
             .agg(F.sum(F.length("x")).cast("bigint")
                  .alias("dict_bytes")))
        return (tot.crossJoin(d)
                .select(F.lit(col).alias("col"), "n_rows", "ndv",
                        "plain_bytes", "dict_bytes"))

    cols = one("p_brand").unionByName(one("p_type")) \
        .unionByName(one("p_name"))
    return cols.select(
        "col", "n_rows", "ndv", "plain_bytes", "dict_bytes",
        F.expr("plain_bytes * 1000 div (dict_bytes + 4 * n_rows)")
        .alias("gain_milli"),
        F.when(F.col("ndv") * 10 <= F.col("n_rows"), 1).otherwise(0)
        .alias("recommend"))


@query("enc_delta_bitwidth", oracle=f"""
    WITH inblk AS (
        SELECT l_orderkey // {_BLK} AS blk,
               l_orderkey - lag(l_orderkey)
                   OVER (PARTITION BY l_orderkey // {_BLK}
                         ORDER BY {_POS_SQL}) AS d
        FROM lineitem
    ),
    bounds AS MATERIALIZED (
        SELECT l_orderkey // {_BLK} AS blk,
               min(l_orderkey) AS first_key,
               max(l_orderkey) AS last_key
        FROM lineitem GROUP BY 1
    ),
    alldeltas AS (
        SELECT d FROM inblk WHERE d IS NOT NULL
        UNION ALL
        SELECT first_key - lag(last_key) OVER (ORDER BY blk) AS d
        FROM bounds QUALIFY d IS NOT NULL
    ),
    bits AS MATERIALIZED (
        SELECT CASE WHEN d = 0 THEN 0
                    ELSE CAST(length(bin(d)) AS BIGINT) END AS nbits
        FROM alldeltas
    )
    SELECT nbits, count(*) AS n_values,
           CAST((SELECT sum(b2.nbits) * 1000 // count(*)
                 FROM bits b2) AS BIGINT) AS avg_bits_milli
    FROM bits GROUP BY nbits
""")
def enc_delta_bitwidth(spark, sf_dir):
    """DELTA_BINARY_PACKED preview with the two-level delta counter:
    within-block successive deltas from the block-partitioned window,
    block-boundary deltas (first key minus previous block's last key)
    from one window over the bounded block table, unioned into the
    bit-length histogram (length(bin(d)) — no log2) plus the average
    packed bits per value (milli) against the plain 64-bit cost."""
    li = (T(spark, sf_dir, "lineitem")
          .withColumn("pos", F.expr(_POS_SPARK)))
    wb = (Window.partitionBy(F.expr(f"l_orderkey div {_BLK}"))
          .orderBy("pos"))
    inblk = (li.select((F.col("l_orderkey")
                        - F.lag("l_orderkey").over(wb)).alias("d"))
             .where(F.col("d").isNotNull()))
    bounds = (li.groupBy(F.expr(f"l_orderkey div {_BLK}").alias("blk"))
              .agg(F.min("l_orderkey").alias("first_key"),
                   F.max("l_orderkey").alias("last_key")))
    wo = Window.orderBy("blk")
    bdelta = (bounds.select((F.col("first_key")
                             - F.lag("last_key").over(wo)).alias("d"))
              .where(F.col("d").isNotNull()))
    bits = (inblk.unionByName(bdelta)
            .select(F.when(F.col("d") == 0, 0)
                    .otherwise(F.length(F.bin(F.col("d")))
                               .cast("bigint")).alias("nbits"))
            .transform(physical.cut))
    avg = (bits.agg(F.expr("sum(nbits) * 1000 div count(*)")
                    .cast("bigint").alias("a")).collect()[0]["a"])
    return (bits.groupBy("nbits").agg(F.count("*").alias("n_values"))
            .select("nbits", "n_values",
                    F.lit(avg).cast("bigint").alias("avg_bits_milli")))


@query("enc_sort_layout_gain", oracle=f"""
    WITH {_BLOCKS_SQL},
    sorted_runs AS (
        SELECT CAST(count(DISTINCT CAST(l_shipdate AS DATE)) AS BIGINT)
                   AS s_runs
        FROM lineitem
    )
    SELECT r.n_rows, r.runs_sd AS natural_runs, s.s_runs AS sorted_runs,
           r.runs_sd * 1000 // s.s_runs AS gain_milli,
           r.n_rows * 1000 // r.runs_sd AS natural_ratio_milli,
           r.n_rows * 1000 // s.s_runs AS sorted_ratio_milli
    FROM runs r CROSS JOIN sorted_runs s
""")
def enc_sort_layout_gain(spark, sf_dir):
    """Sort-rewrite payoff preview: shipdate runs in the current
    storage order (the same two-level distributed run counter as
    `enc_rle_runs`) vs after a hypothetical sort-by-shipdate rewrite
    — where the run count equals the NDV EXACTLY, so the 'after' side
    costs one distinct-count, not a sort. gain (milli) is the number
    that justifies (or kills) a z-order/sort rewrite before running
    it (`zorder_layout` is the rewrite itself)."""
    li = T(spark, sf_dir, "lineitem")
    runs = _stitched_runs(_blocks(spark, sf_dir))
    srt = li.agg(F.countDistinct(F.col("l_shipdate").cast("date"))
                 .cast("bigint").alias("s_runs"))
    return (runs.crossJoin(srt)
            .select("n_rows", F.col("runs_sd").alias("natural_runs"),
                    F.col("s_runs").alias("sorted_runs"),
                    F.expr("runs_sd * 1000 div s_runs")
                    .alias("gain_milli"),
                    F.expr("n_rows * 1000 div runs_sd")
                    .alias("natural_ratio_milli"),
                    F.expr("n_rows * 1000 div s_runs")
                    .alias("sorted_ratio_milli")))
