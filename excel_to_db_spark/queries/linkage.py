"""Record-linkage pack (round 6, batch 67). The reference engine (294
LoC of Rust delegating to SQLite, reference src/main.rs) has no entity
resolution; these are Tier-C mission operators — the dedup problem when
records are DIRTY (typos, truncations), which MinHash shingle dedup
(`dedup_minhash`) does not address: linkage needs blocking + field
comparison + probabilistic scoring (Fellegi-Sunter 1969) + transitive
merge, the pipeline every master-data/identity system runs.

Corpus construction (Febrl-style synthetic corruption, deterministic on
both engines): each part becomes an entity string
`p_name ' ' p_brand ' ' p_type ' sz' p_size` (1995/2000 distinct at
sf0.01 — near-unique fingerprint), and a DIRTY twin is derived by ONE
hash-chosen character edit (delete / duplicate / transpose / none, op
and position from `h32`, `numerics.py`). The hidden ground truth
(dirty i <-> clean i) grades completeness/precision exactly.

- linkage_blocking_census: standard blocking pass (last token +
  2-char prefix) — candidate count, pairs completeness, reduction
  ratio vs the n^2 cross product.
- linkage_sorted_neighborhood: the OTHER classic candidate generator
  (Hernandez-Stolfo 1995): global sort, fixed window w=4 — catches
  pairs whose block key itself got corrupted; sharded by first-char
  partition exactly as production SNM shards its sort.
- linkage_fellegi_sunter: m/u log-odds scoring over the union of both
  candidate passes; weights precomputed as integer micro-literals
  (math.log2 at import time — IDENTICAL literals on both engines, no
  runtime libm anywhere); match / possible / non classification.
- linkage_transitive_merge: declared matches -> connected components
  by 3 unrolled min-label-propagation rounds -> cluster-size census.

Scale shapes: blocking and SNM are equi-join / sort-merge shapes (no
cross products); FS scoring is a projection over the bounded candidate
set; label prop is 3 edge-join rounds with a lineage cut between
(plan-growth rule) and AS MATERIALIZED on the oracle side (DuckDB
re-runs a CTE per downstream reference). Levenshtein is engine-native
on BOTH sides (classic DP edit distance, verified identical)."""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T
from ..numerics import h32, h32_sql

# Fellegi-Sunter agreement weights, integer micro-bits. m = P(agree |
# match), u = P(agree | unmatch) — pinned textbook-ish values; the
# log2 runs ONCE here in Python, so both engines see identical integer
# literals (runtime log() would differ by libm ulps).
_W_LEV0 = round(math.log2(0.55 / 0.002) * 1e6)    # exact string
_W_LEV1 = round(math.log2(0.40 / 0.008) * 1e6)    # one edit away
_W_LEV2 = round(math.log2(0.05 / 0.99) * 1e6)     # >= 2 edits
_W_TOK_EQ = round(math.log2(0.90 / 0.02) * 1e6)   # size token agrees
_W_TOK_NE = round(math.log2(0.10 / 0.98) * 1e6)
_W_PFX_EQ = round(math.log2(0.95 / 0.05) * 1e6)   # 2-char prefix
_W_PFX_NE = round(math.log2(0.05 / 0.95) * 1e6)
_T_MATCH = 12_000_000                              # >= 12 bits: link
_T_POSSIBLE = 0                                    # [0, 12): review


_CORRUPT_SQL = """
    clean AS (
        SELECT p_partkey AS id,
               p_name || ' ' || p_brand || ' ' || p_type || ' sz'
                      || CAST(p_size AS VARCHAR) AS s
        FROM part
    ),
    seeded AS (
        SELECT id, s, length(s) AS ln,
               {hed} % 4 AS op,
               1 + {hpos} % (length(s) - 1) AS pos
        FROM clean
    ),
    dirty AS (
        SELECT id, CASE op
            WHEN 0 THEN substr(s, 1, pos - 1) || substr(s, pos + 1, ln)
            WHEN 1 THEN substr(s, 1, pos) || substr(s, pos, 1)
                     || substr(s, pos + 1, ln)
            WHEN 2 THEN substr(s, 1, pos - 1) || substr(s, pos + 1, 1)
                     || substr(s, pos, 1) || substr(s, pos + 2, ln)
            ELSE s END AS s
        FROM seeded
    )
""".format(hed=h32_sql("'ed:' || CAST(id AS VARCHAR)"),
           hpos=h32_sql("'pos:' || CAST(id AS VARCHAR)"))

_EDIT_CASE = """CASE op
    WHEN 0 THEN substr(s, 1, pos - 1) || substr(s, pos + 1, ln)
    WHEN 1 THEN substr(s, 1, pos) || substr(s, pos, 1)
             || substr(s, pos + 1, ln)
    WHEN 2 THEN substr(s, 1, pos - 1) || substr(s, pos + 1, 1)
             || substr(s, pos, 1) || substr(s, pos + 2, ln)
    ELSE s END"""

# Both candidate passes as SQL fragments (reused by the FS/merge keys).
_BLOCK_PAIRS_SQL = """
    bclean AS (
        SELECT id, s, string_split(s, ' ')[-1]
                      || ':' || substr(s, 1, 2) AS bk
        FROM clean
    ),
    bdirty AS (
        SELECT id, s, string_split(s, ' ')[-1]
                      || ':' || substr(s, 1, 2) AS bk
        FROM dirty
    ),
    block_pairs AS (
        SELECT c.id AS cid, d.id AS did, c.s AS cs, d.s AS ds
        FROM bclean c JOIN bdirty d ON c.bk = d.bk
    )
"""

_SNM_PAIRS_SQL = """
    recs AS (
        SELECT id, 'c' AS src, s FROM clean
        UNION ALL
        SELECT id, 'd' AS src, s FROM dirty
    ),
    ranked AS MATERIALIZED (
        SELECT id, src, s, substr(s, 1, 1) AS pfx,
               row_number() OVER (PARTITION BY substr(s, 1, 1)
                                  ORDER BY s, src, id) AS rn
        FROM recs
    ),
    snm_pairs AS (
        SELECT CASE WHEN a.src = 'c' THEN a.id ELSE b.id END AS cid,
               CASE WHEN a.src = 'c' THEN b.id ELSE a.id END AS did,
               CASE WHEN a.src = 'c' THEN a.s ELSE b.s END AS cs,
               CASE WHEN a.src = 'c' THEN b.s ELSE a.s END AS ds
        FROM ranked a JOIN ranked b
          ON b.pfx = a.pfx AND b.rn BETWEEN a.rn + 1 AND a.rn + 4
        WHERE a.src <> b.src
    )
"""


def _clean_dirty(spark, sf_dir):
    """(clean, dirty) DataFrames of (id, s) — the exact Spark twin of
    `_CORRUPT_SQL` (same md5 seeds, same substr surgery)."""
    part = T(spark, sf_dir, "part")
    clean = part.select(
        F.col("p_partkey").alias("id"),
        F.concat_ws(
            " ", "p_name", "p_brand", "p_type",
            F.concat(F.lit("sz"), F.col("p_size").cast("string"))
        ).alias("s"))
    seeded = clean.select(
        "id", "s", F.length("s").alias("ln"),
        (h32(F.concat(F.lit("ed:"), F.col("id").cast("string"))) % 4)
        .alias("op"),
        (1 + h32(F.concat(F.lit("pos:"), F.col("id").cast("string")))
         % (F.length("s") - 1)).alias("pos"))
    dirty = seeded.select("id", F.expr(_EDIT_CASE).alias("s"))
    return clean, dirty


def _block_key(col):
    # substring_index = regex-free last token (r11; proven identical
    # to element_at(split(.)) on the full name corpus, see _fs_scored)
    return F.concat(F.substring_index(col, " ", -1), F.lit(":"),
                    F.substring(col, 1, 2))


def _block_pairs(clean, dirty):
    # The probe side of the (broadcast) block join otherwise inherits
    # the scan's 1-2 parquet splits: the r9 skew audit measured the
    # WHOLE 27.9M-pair generation in one 65.8 s task (9-task stage,
    # max/median 76x) on sf1j.
    c = physical.fan_out(clean).select(
        F.col("id").alias("cid"), F.col("s").alias("cs"),
        _block_key(F.col("s")).alias("bk"))
    d = dirty.select(F.col("id").alias("did"), F.col("s").alias("ds"),
                     _block_key(F.col("s")).alias("bk"))
    return c.join(d, "bk").select("cid", "did", "cs", "ds")


def _snm_pairs(clean, dirty):
    # lead(col, j) needs a literal offset in Spark — emulate the w=4
    # neighborhood by ranking within the first-char shard and
    # equi-joining rank -> rank + j (j exploded 1..4), which is also
    # exactly what the oracle's BETWEEN rank join states.
    rw = Window.partitionBy(F.substring("s", 1, 1)).orderBy("s", "src", "id")
    ranked = (clean.select("id", F.lit("c").alias("src"), "s")
              .unionByName(dirty.select("id", F.lit("d").alias("src"), "s"))
              .select("id", "src", "s", F.substring("s", 1, 1).alias("pfx"),
                      F.row_number().over(rw).alias("rn")))
    probe = ranked.withColumn("j", F.explode(F.array(
        *[F.lit(v) for v in (1, 2, 3, 4)])))
    nxt = ranked.select(F.col("pfx").alias("npfx"), F.col("rn").alias("nrn"),
                        F.col("id").alias("nid"), F.col("src").alias("nsrc"),
                        F.col("s").alias("ns"))
    joined = probe.join(
        nxt, (F.col("pfx") == F.col("npfx"))
        & (F.col("nrn") == F.col("rn") + F.col("j")))
    return (joined.where(F.col("src") != F.col("nsrc"))
            .select(
                F.when(F.col("src") == "c", F.col("id"))
                .otherwise(F.col("nid")).alias("cid"),
                F.when(F.col("src") == "c", F.col("nid"))
                .otherwise(F.col("id")).alias("did"),
                F.when(F.col("src") == "c", F.col("s"))
                .otherwise(F.col("ns")).alias("cs"),
                F.when(F.col("src") == "c", F.col("ns"))
                .otherwise(F.col("s")).alias("ds")))


@query("linkage_blocking_census", oracle=f"""
    WITH {_CORRUPT_SQL}, {_BLOCK_PAIRS_SQL}
    SELECT count(*) AS n_cand,
           CAST(sum(CASE WHEN cid = did THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true,
           CAST(sum(CASE WHEN cid = did THEN 1 ELSE 0 END) * 1000000
                // (SELECT count(*) FROM dirty) AS BIGINT)
               AS completeness_micro,
           CAST(1000000 - count(*) * 1000000
                // ((SELECT count(*) FROM clean)
                    * (SELECT count(*) FROM dirty)) AS BIGINT)
               AS reduction_micro
    FROM block_pairs
""")
def linkage_blocking_census(spark, sf_dir):
    """Blocking-pass audit: candidates from an equi-join on the block
    key (last token + 2-char prefix), graded on the two numbers every
    linkage pipeline tunes — pairs completeness (true matches
    surviving the block, vs recall ceiling) and reduction ratio (how
    much of the n^2 cross product the block avoided). Pure equi-join:
    the shape that hash-partitions at any scale."""
    clean, dirty = _clean_dirty(spark, sf_dir)
    pairs = _block_pairs(clean, dirty)
    # r11 (guide §5): the two record counts were sequential eager jobs
    # injected as literals; now 1-row aggregate subtrees cross-joined
    # into the returned plan — identical integer divisions on columns.
    scal = (clean.agg(F.count("*").alias("n_clean"))
            .crossJoin(dirty.agg(F.count("*").alias("n_dirty"))))
    return (pairs.agg(
        F.count("*").alias("n_cand"),
        F.sum(F.when(F.col("cid") == F.col("did"), 1).otherwise(0))
        .alias("n_true"))
        .crossJoin(F.broadcast(scal))
        .select("n_cand", "n_true",
                F.expr("n_true * 1000000 div n_dirty")
                .alias("completeness_micro"),
                F.expr("1000000 - n_cand * 1000000"
                       " div (n_clean * n_dirty)")
                .alias("reduction_micro")))


@query("linkage_sorted_neighborhood", oracle=f"""
    WITH {_CORRUPT_SQL}, {_SNM_PAIRS_SQL}
    SELECT count(*) AS n_cand,
           CAST(sum(CASE WHEN cid = did THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true,
           CAST(sum(CASE WHEN cid = did THEN 1 ELSE 0 END) * 1000000
                // (SELECT count(*) FROM dirty) AS BIGINT)
               AS completeness_micro
    FROM snm_pairs
""")
def linkage_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood candidate generation (Hernandez-Stolfo):
    clean+dirty sorted together (per first-char shard, exactly how
    production SNM shards its global sort), each record paired with the
    next w=4 records; cross-source pairs become candidates. Catches
    matches whose BLOCK KEY was corrupted (the blocking pass's blind
    spot) at sort-merge cost. Spark side emulates lead(s, j) with a
    rank self-join (lead needs literal offsets); the oracle uses
    lead(col, j) over a per-j window — identical pairs."""
    clean, dirty = _clean_dirty(spark, sf_dir)
    pairs = _snm_pairs(clean, dirty)
    # r11 (guide §5): the dirty-count literal was a sequential eager
    # job; now a 1-row aggregate cross-joined into the returned plan.
    return (pairs.agg(
        F.count("*").alias("n_cand"),
        F.sum(F.when(F.col("cid") == F.col("did"), 1).otherwise(0))
        .alias("n_true"))
        .crossJoin(F.broadcast(dirty.agg(F.count("*")
                                         .alias("n_dirty"))))
        .select("n_cand", "n_true",
                F.expr("n_true * 1000000 div n_dirty")
                .alias("completeness_micro")))


_FS_SCORE_SQL = f"""
    cand AS MATERIALIZED (
        SELECT DISTINCT cid, did, cs, ds FROM (
            SELECT * FROM block_pairs
            UNION ALL
            SELECT * FROM snm_pairs
        )
    ),
    scored AS MATERIALIZED (
        SELECT cid, did, cid = did AS is_true,
               (CASE WHEN levenshtein(cs, ds) = 0 THEN {_W_LEV0}
                     WHEN levenshtein(cs, ds) = 1 THEN {_W_LEV1}
                     ELSE {_W_LEV2} END
              + CASE WHEN string_split(cs, ' ')[-1]
                        = string_split(ds, ' ')[-1]
                     THEN {_W_TOK_EQ} ELSE {_W_TOK_NE} END
              + CASE WHEN substr(cs, 1, 2) = substr(ds, 1, 2)
                     THEN {_W_PFX_EQ} ELSE {_W_PFX_NE} END) AS score
        FROM cand
    )
"""


def _fs_scored(spark, sf_dir):
    """Candidate union -> distinct id pairs -> FS score per pair.

    This is the measured-fastest of three shapes tried on the x10
    replica fixture (benchdata/sf1: ~94M candidate rows, 936k distinct
    string signatures; clean solo runs, local[32]):

    1. THIS shape — distinct on (cid, did, cs, ds), checkpoint, then
       score: sf0.1 4.1s, sf1 357s.
    2. Score once per DISTINCT signature via groupBy(cs, ds) +
       collect_set(id pairs) + explode — cuts levenshtein calls 100x
       on the duplicate-heavy fixture but forces ObjectHashAggregate
       (no codegen, sort fallback under pressure): sf0.1 12.3s,
       sf1 423s. LOST.
    3. Score map-side BEFORE the distinct so the shuffle moves four
       fixed-width columns instead of two ~45-char strings: sf0.1
       13.3s, sf1 868s. LOST — the string comparisons are cheap
       inside codegen, and fusing them into the join/exchange stage
       starves the shuffle writers; scoring over the materialized
       checkpoint blocks is the cheaper place.

    Time scales sublinearly in candidate pairs (x100 pairs -> x87
    time); the pair count itself is the blocking design's knob, see
    PLANS.md round-7 scale audit.

    r9: the FS edit-distance field only distinguishes lev in
    {0, 1, >=2}, so the metric is the threshold-bounded
    levenshtein(cs, ds, 1) — the DP abandons a row after the k=1 band
    (O(k*len) per pair, not O(len^2)) and its -1 'exceeded' return
    maps to the same _W_LEV2 bucket the unbounded >= 2 did. Exact
    classification, ~len/2 x less DP work per pair; the oracle keeps
    the unbounded form, so the gate checks the equivalence.

    r11 — shape 4, the NARROW distinct (guide §2 'shuffle fewer
    bytes'): the sf1j profile put 58 s of the 160 s key inside the
    distinct's exchange of 28.5M four-column rows (two ~45-char
    strings per row); (cid, did) alone determines (cs, ds) — cs/ds
    are deterministic functions of the part row — so the distinct now
    moves two BIGINTs per pair (~6x fewer shuffle bytes) and the
    strings re-attach AFTER the checkpoint via two broadcast joins
    against the part-dimension-bounded (id, s) sides (the same bound
    that broadcasts customer/supplier dims elsewhere). Same pair set,
    same strings, same scores."""
    clean, dirty = _clean_dirty(spark, sf_dir)
    cand_ids = (_block_pairs(clean, dirty).select("cid", "did")
                .unionByName(_snm_pairs(clean, dirty)
                             .select("cid", "did"))
                .distinct()
                .transform(physical.cut))

    # The agreement FIELDS (last token, 2-char prefix) are per-RECORD
    # values, so they ride the broadcast sides and are computed 200k
    # times, not 28.5M times per pair. substring_index(s, ' ', -1) is
    # the regex-free last token: the former per-pair
    # element_at(split(cs)) alone measured 120 s of the 160 s sf1j
    # key (regex split + array allocation per row); the swap is
    # proven identical on the full name corpus (0 mismatches, same
    # aggregate over all 28.5M pairs).
    def _side(df, idn, sn):
        return df.select(F.col("id").alias(idn), F.col("s").alias(sn),
                         F.substring_index(F.col("s"), " ", -1)
                         .alias(f"{sn}_tok"),
                         F.substring(F.col("s"), 1, 2)
                         .alias(f"{sn}_pfx"))

    cand = (cand_ids
            .join(physical.bounded_broadcast(_side(clean, "cid", "cs"),
                                             sf_dir, ("part",)), "cid")
            .join(physical.bounded_broadcast(_side(dirty, "did", "ds"),
                                             sf_dir, ("part",)), "did"))
    lev = F.levenshtein("cs", "ds", 1)
    tok = F.col("cs_tok") == F.col("ds_tok")
    pfx = F.col("cs_pfx") == F.col("ds_pfx")
    score = (F.when(lev == 0, _W_LEV0).when(lev == 1, _W_LEV1)
             .otherwise(_W_LEV2)
             + F.when(tok, _W_TOK_EQ).otherwise(_W_TOK_NE)
             + F.when(pfx, _W_PFX_EQ).otherwise(_W_PFX_NE))
    return cand.select("cid", "did",
                       (F.col("cid") == F.col("did")).alias("is_true"),
                       score.alias("score"))


@query("linkage_fellegi_sunter", oracle=f"""
    WITH {_CORRUPT_SQL}, {_BLOCK_PAIRS_SQL}, {_SNM_PAIRS_SQL},
    {_FS_SCORE_SQL}
    SELECT CASE WHEN score >= {_T_MATCH} THEN 'match'
                WHEN score >= {_T_POSSIBLE} THEN 'possible'
                ELSE 'non' END AS cls,
           count(*) AS n_pairs,
           CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true,
           min(score) AS min_score, max(score) AS max_score
    FROM scored GROUP BY 1
""")
def linkage_fellegi_sunter(spark, sf_dir):
    """Fellegi-Sunter probabilistic classification over the union of
    both candidate passes: per-field agreement weights log2(m/u) /
    log2((1-m)/(1-u)) — precomputed as integer micro-literals at
    import, so scoring is pure integer addition on both engines —
    summed into a match weight, thresholded into link / possible-link
    / non-link (the 1969 decision rule). Ground truth grades each
    class. Scoring is a projection over the bounded candidate set;
    the corpus never sees an n^2 comparison."""
    scored = _fs_scored(spark, sf_dir)
    cls = (F.when(F.col("score") >= _T_MATCH, "match")
           .when(F.col("score") >= _T_POSSIBLE, "possible")
           .otherwise("non"))
    return (scored.groupBy(cls.alias("cls"))
            .agg(F.count("*").alias("n_pairs"),
                 F.sum(F.when(F.col("is_true"), 1).otherwise(0))
                 .alias("n_true"),
                 F.min("score").alias("min_score"),
                 F.max("score").alias("max_score")))


@query("linkage_transitive_merge", oracle=f"""
    WITH {_CORRUPT_SQL}, {_BLOCK_PAIRS_SQL}, {_SNM_PAIRS_SQL},
    {_FS_SCORE_SQL},
    edges AS MATERIALIZED (
        SELECT cid * 2 AS u, did * 2 + 1 AS v
        FROM scored WHERE score >= {_T_MATCH}
    ),
    bi AS MATERIALIZED (
        SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT u, u AS lbl FROM bi),
    l1 AS MATERIALIZED (
        SELECT u, min(lbl) AS lbl FROM (
            SELECT u, lbl FROM l0
            UNION ALL
            SELECT b.u, p.lbl FROM bi b JOIN l0 p ON p.u = b.v
        ) GROUP BY u
    ),
    l2 AS MATERIALIZED (
        SELECT u, min(lbl) AS lbl FROM (
            SELECT u, lbl FROM l1
            UNION ALL
            SELECT b.u, p.lbl FROM bi b JOIN l1 p ON p.u = b.v
        ) GROUP BY u
    ),
    l3 AS MATERIALIZED (
        SELECT u, min(lbl) AS lbl FROM (
            SELECT u, lbl FROM l2
            UNION ALL
            SELECT b.u, p.lbl FROM bi b JOIN l2 p ON p.u = b.v
        ) GROUP BY u
    ),
    clusters AS (SELECT lbl, count(*) AS csize FROM l3 GROUP BY lbl)
    SELECT csize, count(*) AS n_clusters
    FROM clusters GROUP BY csize
""")
def linkage_transitive_merge(spark, sf_dir):
    """Transitive closure of declared links -> merge clusters: 3
    unrolled synchronous min-label-propagation rounds over the
    bidirected match graph (clean node 2i, dirty node 2i+1), then a
    cluster-size census. Both engines run the SAME fixed 3 rounds, so
    the result is deterministic even where a pathological chain hasn't
    converged. Spark checkpoints each round (plan-growth rule); the
    oracle MATERIALIZEs each level (DuckDB re-runs a CTE per
    reference). Matched pairs are sparse, so every round is a small
    equi-join no matter the corpus size."""
    scored = _fs_scored(spark, sf_dir)
    edges = (scored.where(F.col("score") >= _T_MATCH)
             .select((F.col("cid") * 2).alias("u"),
                     (F.col("did") * 2 + 1).alias("v")))
    bi = (edges.unionByName(edges.select(F.col("v").alias("u"),
                                         F.col("u").alias("v")))
          .transform(physical.cut))
    lbl = bi.select("u").distinct().select("u", F.col("u").alias("lbl"))
    # r11: the label frame is bounded by the MATCHED-id set (sparse by
    # construction, <= 2x the part dimension: clean node ids 2i plus
    # dirty node ids 2i+1) but checkpointed each round, so unknown
    # stats made every round sort-merge both sides; broadcasting the
    # labels makes each round one map pass over the checkpointed edge
    # list plus the min-label groupBy shuffle (guide §3). ADVICE r11:
    # the gate names the part table TWICE so the bound it checks is the
    # documented 2x bound.
    for _ in range(3):
        nbr = (bi.join(physical.bounded_broadcast(
                               lbl.select(F.col("u").alias("v2"), "lbl"),
                               sf_dir, ("part", "part")),
                       bi["v"] == F.col("v2"))
               .select("u", "lbl"))
        lbl = (lbl.select("u", "lbl").unionByName(nbr)
               .groupBy("u").agg(F.min("lbl").alias("lbl"))
               .transform(physical.cut))
    return (lbl.groupBy("lbl").agg(F.count("*").alias("csize"))
            .groupBy("csize").agg(F.count("*").alias("n_clusters")))
