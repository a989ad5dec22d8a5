"""Product-quantization ANN (round 5): the memory-bound scale path the
similarity family was missing. similarity_topk / similarity_ann /
similarity_ivf (queries/extensions.py) cover brute-force, SRP-LSH
bucketing, and IVF coarse quantization; PQ is the fourth production
leg — compress every vector to a few subspace codebook codes (here 8
codes x 16 centroids = 8 nibbles per vector vs 256 B of float32) and
answer queries with asymmetric distance (query vs centroid lookup
tables), the FAISS IVF-PQ inner loop. At 100 TB the PQ codes of a
billion vectors fit in executor memory where raw vectors never could.

Determinism contract: vectors are integer-quantized FIRST
(floor(x*1000 + 0.5), the engine-portable rounding per SURVEY §4.3),
so every distance, argmin, and ADC total is EXACT BIGINT arithmetic —
no float comparison anywhere, ties broken by centroid id via the
key = dist*16 + c trick (min over the combined key is simultaneously
the distance argmin and the smallest-id tie-break).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..numerics import h32, h32_sql, units_sum_sql
from ..operators import physical
from .registry import query
from .relational import T


@query("similarity_pq", oracle="""
    WITH iv AS (
        SELECT vec_id,
               [CAST(floor(x * 1000 + 0.5) AS BIGINT)
                for x in embedding::DOUBLE[]] AS v
        FROM embeddings
    ),
    sub AS (
        SELECT vec_id, s, v[s * 8 + 1 : s * 8 + 8] AS sv
        FROM iv, (SELECT unnest(range(0, 8)) AS s)
    ),
    csub AS (SELECT vec_id AS c, s, sv AS cs FROM sub WHERE vec_id < 16),
    j AS (
        SELECT a.vec_id, a.s,
               min(CAST(list_sum([(a.sv[i] - b.cs[i]) * (a.sv[i] - b.cs[i])
                                  for i in range(1, 9)]) AS BIGINT)
                   * 16 + b.c) AS k
        FROM sub a JOIN csub b USING (s)
        GROUP BY a.vec_id, a.s
    ),
    codes AS (SELECT vec_id, s, k % 16 AS code FROM j),
    qd AS (
        SELECT b.s, b.c,
               CAST(list_sum([(q.sv[i] - b.cs[i]) * (q.sv[i] - b.cs[i])
                              for i in range(1, 9)]) AS BIGINT) AS qdist
        FROM csub b JOIN sub q ON q.s = b.s AND q.vec_id = 0
    ),
    pq AS (
        SELECT vec_id,
               string_agg(CAST(code AS VARCHAR), '-' ORDER BY s) AS pq_code
        FROM codes GROUP BY vec_id
    ),
    adc AS (
        SELECT codes.vec_id, CAST(sum(qd.qdist) AS BIGINT) AS adc
        FROM codes JOIN qd ON qd.s = codes.s AND qd.c = codes.code
        GROUP BY codes.vec_id
    )
    SELECT pq.vec_id, pq.pq_code, adc.adc
    FROM pq JOIN adc USING (vec_id)
""")
def similarity_pq(spark, sf_dir):
    """Product quantization: 64-dim vectors split into 8 contiguous
    8-dim subspaces; in each subspace every vector snaps to the nearest
    of 16 codebook centroids (here the first 16 vectors — a fixed,
    engine-recomputable codebook standing in for the k-means-trained
    one, same encode/query plans either way). Emits each vector's PQ
    code string and its asymmetric distance (ADC) to query vector 0 —
    sum over subspaces of (query subvector -> assigned centroid)
    distance, the value an IVF-PQ scan ranks by without ever touching
    the raw vectors.

    Scale shape: encode is ONE equi-join on the subspace id against a
    128-row broadcast codebook (vectors x 8 subspace rows stream
    through; no N x N anything), then a (vec_id, s)-keyed min-agg —
    map-side combinable because the argmin is folded into one BIGINT
    key. ADC is a broadcast join of the 128-entry query lookup table
    against the codes — exactly the constant-size distance-table trick
    FAISS uses. All arithmetic integer-exact (see module docstring);
    at production scale only the codebook (k-means over a sample,
    kmeans_lloyd's plan) and the code columns persist."""
    # fan_out (r10 broadcast-probe sweep): the 128-row codebook join's
    # probe side (vectors x 8 subspaces) otherwise inherits the 1-2
    # local parquet splits for the 16x 8-dim HOF argmin.
    e = physical.fan_out(T(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.expr("transform(CAST(embedding AS array<double>), "
               "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").alias("v"))
    sub = e.select(
        "vec_id", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("s"),
        "v").select(
        "vec_id", "s", F.expr("slice(v, s * 8 + 1, 8)").alias("sv"))
    csub = (sub.filter(F.col("vec_id") < 16)
            .select(F.col("vec_id").alias("c"), "s",
                    F.col("sv").alias("cs")))
    dist = F.expr("aggregate(zip_with(sv, cs, (a, b) -> (a - b) * (a - b)), "
                  "0L, (acc, x) -> acc + x)")
    j = (sub.join(F.broadcast(csub), "s")
         .groupBy("vec_id", "s")
         .agg(F.min(dist * 16 + F.col("c")).alias("k")))
    codes = j.select("vec_id", "s", (F.col("k") % 16).alias("code"))
    qd = (csub.join(sub.filter(F.col("vec_id") == 0).select("s", "sv"), "s")
          .select("s", "c", dist.alias("qdist")))
    pq = (codes.groupBy("vec_id")
          .agg(F.array_join(
              F.transform(F.array_sort(F.collect_list(F.struct("s", "code"))),
                          lambda x: x["code"].cast("string")), "-")
               .alias("pq_code")))
    adc = (codes.join(F.broadcast(qd),
                      (codes["s"] == qd["s"]) & (codes["code"] == qd["c"]))
           .groupBy("vec_id").agg(F.sum("qdist").alias("adc")))
    return pq.join(adc, "vec_id").select("vec_id", "pq_code", "adc")


@query("embedding_mrl_eval", oracle="""
    WITH iv AS (
        SELECT vec_id,
               [CAST(floor(x * 1000 + 0.5) AS BIGINT)
                for x in embedding::DOUBLE[]] AS v
        FROM embeddings
    ),
    q AS (SELECT v AS qv FROM iv WHERE vec_id = 0),
    d AS (
        SELECT vec_id,
               CAST(list_sum([(v[i] - qv[i]) * (v[i] - qv[i])
                              for i in range(1, 65)]) AS BIGINT) AS d_full,
               CAST(list_sum([(v[i] - qv[i]) * (v[i] - qv[i])
                              for i in range(1, 17)]) AS BIGINT) AS d_16
        FROM iv, q WHERE vec_id <> 0
    ),
    tf AS (SELECT vec_id FROM d ORDER BY d_full, vec_id LIMIT 10),
    tt AS (SELECT vec_id FROM d ORDER BY d_16, vec_id LIMIT 10)
    SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_vectors,
           CAST((SELECT count(*) FROM tf JOIN tt USING (vec_id)) AS BIGINT)
               AS overlap_at_10,
           (SELECT min(vec_id) FROM tf) = (SELECT min(vec_id) FROM tt)
               AS top1_sets_share_min
""")
def embedding_mrl_eval(spark, sf_dir):
    """Matryoshka-truncation retrieval evaluation: score query vector 0
    against the corpus with the FULL 64 dims and with only the first 16
    dims (the MRL deployment trick — serve a prefix of the embedding,
    pay 1/4 the memory and FLOPs), and report how much of the exact
    top-10 the truncated index preserves. This is the third leg of the
    embedding-compression eval set: similarity_pq (codebook
    quantization), embedding_quantize (scalar int8), and now dimension
    truncation.

    Scale shape: one broadcast of the query's integer vector, one
    projected scan computing BOTH distances in the same codegen pass
    (the prefix distance shares the full distance's terms), and two
    TakeOrderedAndProject top-10s — no shuffle larger than 10 rows
    leaves any executor. Distances are exact BIGINTs on quantized
    vectors (floor(x*1000+0.5)), ties broken by vec_id, so the top-10
    sets are engine-identical."""
    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(CAST(embedding AS array<double>), "
               "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").alias("v"))
    q = (e.filter(F.col("vec_id") == 0)
         .select(F.col("v").alias("qv")))
    dist = ("aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            "0L, (acc, t) -> acc + t)")
    # cut: the distance table feeds FIVE subtrees (stats, two top-k's,
    # overlap, min comparison) — without it each re-runs the corpus
    # scan and the 64-dim distance arithmetic
    d = (e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
         .select("vec_id",
                 F.expr(dist.format(a="v", b="qv")).alias("d_full"),
                 F.expr(dist.format(a="slice(v, 1, 16)",
                                    b="slice(qv, 1, 16)")).alias("d_16"))
         .transform(physical.cut))
    tf = d.orderBy("d_full", "vec_id").limit(10).select("vec_id")
    tt = d.orderBy("d_16", "vec_id").limit(10).select("vec_id")
    stats = d.agg(F.count("*").alias("n_vectors"))
    overlap = (tf.join(tt, "vec_id")
               .agg(F.count("*").alias("overlap_at_10")))
    mins = (tf.agg(F.min("vec_id").alias("m1")).crossJoin(
        tt.agg(F.min("vec_id").alias("m2")))
        .select((F.col("m1") == F.col("m2")).alias("top1_sets_share_min")))
    return stats.crossJoin(overlap).crossJoin(mins)


@query("embedding_hard_negatives", oracle="""
    WITH iv AS (
        SELECT vec_id, label,
               [CAST(floor(x * 1000 + 0.5) AS BIGINT)
                for x in embedding::DOUBLE[]] AS v
        FROM embeddings
    ),
    a AS (SELECT vec_id AS aid, label AS albl, v AS av
          FROM iv WHERE vec_id < 20),
    k AS (
        SELECT aid, min(albl) AS anchor_label,
               min(CAST(list_sum([(av[i] - v[i]) * (av[i] - v[i])
                                  for i in range(1, 65)]) AS BIGINT)
                   * 1000000 + vec_id) AS key
        FROM a JOIN iv ON label <> albl
        GROUP BY aid
    )
    SELECT k.aid AS anchor_id, k.anchor_label,
           CAST(k.key % 1000000 AS BIGINT) AS neg_id,
           CAST(k.key // 1000000 AS BIGINT) AS neg_dist,
           iv.label AS neg_label
    FROM k JOIN iv ON iv.vec_id = k.key % 1000000
""")
def embedding_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: for each of the
    first 20 anchor vectors, the CLOSEST vector carrying a DIFFERENT
    label — the triplet/InfoNCE negative that actually teaches the
    margin, which random negatives don't. Argmin + smallest-id
    tie-break fold into one BIGINT key (dist * 1e6 + id, the
    similarity_pq trick), so the per-anchor minimum is a plain
    map-side-combinable min-agg.

    Scale shape: the 20-row anchor set BROADCASTS against the corpus
    (a nested-loop join on label inequality — correct here because one
    side is constant-sized; at a million anchors the production shape
    is label-partitioned ANN per similarity_ann/similarity_ivf, not
    this exact join), distances are exact BIGINTs on quantized
    vectors, and only 20 keys leave the aggregation."""
    # fan_out (r10 broadcast-probe sweep): the 20-anchor broadcast
    # NLJ's probe side otherwise inherits the 1-2 local parquet splits
    # for 20x 64-dim HOF distances per vector.
    e = physical.fan_out(T(spark, sf_dir, "embeddings")).select(
        "vec_id", "label",
        F.expr("transform(CAST(embedding AS array<double>), "
               "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").alias("v"))
    a = (e.filter(F.col("vec_id") < 20)
         .select(F.col("vec_id").alias("aid"),
                 F.col("label").alias("albl"),
                 F.col("v").alias("av")))
    dist = F.expr("aggregate(zip_with(av, v, (x, y) -> (x - y) * (x - y)), "
                  "0L, (acc, t) -> acc + t)")
    k = (e.join(F.broadcast(a), F.col("label") != F.col("albl"))
         .groupBy("aid")
         .agg(F.min("albl").alias("anchor_label"),
              F.min(dist * 1000000 + F.col("vec_id")).alias("key")))
    neg = e.select(F.col("vec_id").alias("nid"),
                   F.col("label").alias("neg_label"))
    return (k.select("aid", "anchor_label",
                     (F.col("key") % 1000000).alias("neg_id"),
                     F.expr("CAST(key DIV 1000000 AS BIGINT)")
                     .alias("neg_dist"))
            .join(F.broadcast(neg), F.col("neg_id") == F.col("nid"))
            .select(F.col("aid").alias("anchor_id"), "anchor_label",
                    "neg_id", "neg_dist", "neg_label"))


@query("similarity_ivfpq", oracle="""
    WITH iv AS (
        SELECT vec_id,
               [CAST(floor(x * 1000 + 0.5) AS BIGINT)
                for x in embedding::DOUBLE[]] AS v
        FROM embeddings
    ),
    cent AS (SELECT vec_id AS cid, v AS cv FROM iv WHERE vec_id < 16),
    asg AS (
        SELECT vec_id,
               min(CAST(list_sum([(v[i] - cv[i]) * (v[i] - cv[i])
                                  for i in range(1, 65)]) AS BIGINT)
                   * 16 + cid) % 16 AS cell
        FROM iv CROSS JOIN cent GROUP BY vec_id
    ),
    res AS (
        SELECT iv.vec_id, asg.cell,
               [iv.v[i] - cent.cv[i] for i in range(1, 65)] AS r
        FROM iv JOIN asg USING (vec_id) JOIN cent ON cent.cid = asg.cell
    ),
    sub AS (
        SELECT vec_id, cell, s, r[s * 8 + 1 : s * 8 + 8] AS sv
        FROM res, (SELECT unnest(range(0, 8)) AS s)
    ),
    cb AS (
        SELECT vec_id - 16 AS c, s, sv AS cs
        FROM sub WHERE vec_id >= 16 AND vec_id < 32
    ),
    enc AS (
        SELECT a.vec_id, a.cell, a.s,
               min(CAST(list_sum([(a.sv[i] - b.cs[i]) * (a.sv[i] - b.cs[i])
                                  for i in range(1, 9)]) AS BIGINT)
                   * 16 + b.c) % 16 AS code
        FROM sub a JOIN cb b USING (s)
        GROUP BY a.vec_id, a.cell, a.s
    ),
    qprobe AS (
        SELECT cid AS cell FROM (
            SELECT cent.cid,
                   row_number() OVER (ORDER BY
                       CAST(list_sum([(q.v[i] - cv[i]) * (q.v[i] - cv[i])
                                      for i in range(1, 65)]) AS BIGINT),
                       cid) AS rk
            FROM cent, (SELECT v FROM iv WHERE vec_id = 0) q)
        WHERE rk <= 2
    ),
    qres AS (
        SELECT p.cell, [q.v[i] - cent.cv[i] for i in range(1, 65)] AS r
        FROM qprobe p
        JOIN cent ON cent.cid = p.cell,
             (SELECT v FROM iv WHERE vec_id = 0) q
    ),
    qsub AS (
        SELECT cell, s, r[s * 8 + 1 : s * 8 + 8] AS sv
        FROM qres, (SELECT unnest(range(0, 8)) AS s)
    ),
    lut AS (
        SELECT q.cell, q.s, b.c,
               CAST(list_sum([(q.sv[i] - b.cs[i]) * (q.sv[i] - b.cs[i])
                              for i in range(1, 9)]) AS BIGINT) AS d
        FROM qsub q JOIN cb b USING (s)
    ),
    scored AS (
        SELECT enc.vec_id, enc.cell, CAST(sum(lut.d) AS BIGINT) AS adc
        FROM enc JOIN lut ON lut.cell = enc.cell AND lut.s = enc.s
                          AND lut.c = enc.code
        WHERE enc.vec_id <> 0
        GROUP BY enc.vec_id, enc.cell
    ),
    top AS (SELECT * FROM scored ORDER BY adc, vec_id LIMIT 10)
    SELECT vec_id AS n_id, cell, adc,
           CAST(row_number() OVER (ORDER BY adc, vec_id) AS BIGINT) AS rk
    FROM top
""")
def similarity_ivfpq(spark, sf_dir):
    """IVF-PQ: the two ANN compression legs composed the way FAISS
    (and every billion-scale vector index) deploys them — a coarse
    quantizer (16 cells, `similarity_ivf`'s) routes each vector to a
    cell, the RESIDUAL vector - centroid is product-quantized (8
    subspaces x 16 codes, `similarity_pq`'s layout; residual PQ
    carries far more precision per code than raw-vector PQ because the
    residual distribution is centered), and a query probes its
    nprobe=2 nearest cells with a per-cell asymmetric-distance lookup
    table over the QUERY residual. Returns the query's top-10
    candidates with exact-integer ADC scores.

    Determinism: quantize-first (floor(x*1000+0.5)) makes every
    assignment, residual, code, and ADC total exact BIGINT arithmetic;
    argmin ties fold into min(dist*16 + id) keys; codebook = residuals
    of vectors 16..31 (deterministic, engine-recomputable on both
    sides).

    Scale shape: assignment and encoding are broadcast joins against
    constant-size tables (16 centroids, 128 codebook rows) with
    map-side-combinable min-aggs — the corpus is never shuffled wider
    than its own (vec_id, s) reduce; the query side is all
    constant-size (2 probes x 8 subspaces x 16 codes = 256-entry LUT,
    broadcast); candidate scoring touches only the probed cells'
    codes (at production scale: partition-pruned by `cell`) and emits
    a 10-row TakeOrdered. No raw vector is ever read at query time —
    the property that lets a billion-vector index live in memory."""
    from pyspark.sql.window import Window

    # fan_out: assignment/encoding are broadcast joins whose per-row
    # distance arithmetic is the heavy part; a narrow local scan would
    # serialize them (r9 skew audit class).
    e = physical.fan_out(T(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.expr("transform(CAST(embedding AS array<double>), "
               "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").alias("v"))
    cent = (e.filter(F.col("vec_id") < 16)
            .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv")))
    d64 = F.expr("aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)), "
                 "0L, (acc, t) -> acc + t)")
    asg = (e.crossJoin(F.broadcast(cent))
           .groupBy("vec_id")
           .agg((F.min(d64 * 16 + F.col("cid")) % 16).alias("cell")))
    res = (e.join(asg, "vec_id")
           .join(F.broadcast(cent), F.col("cell") == F.col("cid"))
           .select("vec_id", "cell",
                   F.expr("zip_with(v, cv, (x, y) -> x - y)").alias("r")))
    sub = (res.select("vec_id", "cell",
                      F.explode(F.sequence(F.lit(0), F.lit(7))).alias("s"),
                      "r")
           .select("vec_id", "cell", "s",
                   F.expr("slice(r, s * 8 + 1, 8)").alias("sv")))
    cb = (sub.filter((F.col("vec_id") >= 16) & (F.col("vec_id") < 32))
          .select((F.col("vec_id") - 16).alias("c"), "s",
                  F.col("sv").alias("cs")))
    d8 = F.expr("aggregate(zip_with(sv, cs, (x, y) -> (x - y) * (x - y)), "
                "0L, (acc, t) -> acc + t)")
    enc = (sub.join(F.broadcast(cb), "s")
           .groupBy("vec_id", "cell", "s")
           .agg((F.min(d8 * 16 + F.col("c")) % 16).alias("code")))
    qv = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    qd64 = F.expr("aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), "
                  "0L, (acc, t) -> acc + t)")
    # 16-row window: bounded by the centroid count, never data-sized
    qprobe = (cent.crossJoin(F.broadcast(qv))
              .withColumn("rk", F.row_number().over(
                  Window.orderBy(qd64.alias("qd"), F.col("cid"))))
              .filter(F.col("rk") <= 2)
              .select(F.col("cid").alias("cell"), "cv"))
    qres = (qprobe.crossJoin(F.broadcast(qv))
            .select("cell",
                    F.expr("zip_with(qv, cv, (x, y) -> x - y)").alias("r")))
    qsub = (qres.select("cell",
                        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("s"),
                        "r")
            .select("cell", "s", F.expr("slice(r, s * 8 + 1, 8)").alias("sv")))
    lut = (qsub.join(F.broadcast(cb), "s")
           .select("cell", "s", "c", d8.alias("d")))
    # explicit aliased join conditions (cell, s, code==c)
    en = enc.filter(F.col("vec_id") != 0).alias("en")
    lu = lut.alias("lu")
    scored = (en.join(F.broadcast(lu),
                      (F.col("en.cell") == F.col("lu.cell"))
                      & (F.col("en.s") == F.col("lu.s"))
                      & (F.col("en.code") == F.col("lu.c")))
              .groupBy(F.col("en.vec_id").alias("vec_id"),
                       F.col("en.cell").alias("cell"))
              .agg(F.sum("lu.d").alias("adc")))
    top = scored.orderBy("adc", "vec_id").limit(10)
    # rank over the 10-row result — bounded single partition
    return (top.withColumn(
        "rk", F.row_number().over(Window.orderBy("adc", "vec_id")))
        .select(F.col("vec_id").alias("n_id"), "cell", "adc", "rk"))


@query("similarity_ndcg_eval", oracle=f"""
    WITH iv AS (
        SELECT vec_id, label,
               [CAST(floor(x * 1000 + 0.5) AS BIGINT)
                for x in embedding::DOUBLE[]] AS v
        FROM embeddings
    ),
    q AS (SELECT v AS qv, label AS qlbl FROM iv WHERE vec_id = 0),
    d AS (
        SELECT vec_id, label,
               CAST(list_sum([(v[i] - qv[i]) * (v[i] - qv[i])
                              for i in range(1, 65)]) AS BIGINT) AS d2,
               CASE WHEN label = qlbl THEN 1 ELSE 0 END AS rel
        FROM iv, q WHERE vec_id <> 0
    ),
    top AS (
        SELECT rel, row_number() OVER (ORDER BY d2, vec_id) AS rk
        FROM d ORDER BY d2, vec_id LIMIT 10
    ),
    dcg AS (
        SELECT {units_sum_sql('rel * 1000000 / log2(rk + 1)')} AS dcg_micro,
               CAST(sum(rel) AS BIGINT) AS n_rel_top
        FROM top
    ),
    ideal AS (
        SELECT {units_sum_sql('1000000 / log2(rk + 1)')} AS idcg_micro
        FROM (SELECT row_number() OVER (ORDER BY rel DESC) AS rk, rel
              FROM top) WHERE rel = 1
    ),
    tot AS (SELECT CAST(sum(rel) AS BIGINT) AS n_rel_total FROM d)
    SELECT dcg.n_rel_top, tot.n_rel_total,
           round(dcg.dcg_micro * 1.0
                 / (CASE WHEN ideal.idcg_micro IS NULL OR ideal.idcg_micro = 0
                         THEN 1 ELSE ideal.idcg_micro END), 6) AS ndcg_at_10
    FROM dcg, ideal, tot
""")
def similarity_ndcg_eval(spark, sf_dir):
    """NDCG@10 retrieval evaluation: rank the corpus against query
    vector 0 by exact integer L2 and score the top-10 with binary
    same-label relevance — the standard IR metric that rewards placing
    relevant neighbors EARLY, completing the eval trio next to
    `similarity_recall` (set overlap, rank-blind) and
    `embedding_mrl_eval` (truncation robustness).

    Exactness: distances and ranks are exact integers; each DCG term
    rel/log2(rank+1) is computed from the same (rel, rank) integer pair
    on both engines and snapped to micro-units per row (SURVEY §4.3),
    so DCG and ideal-DCG are exact BIGINTs; NDCG is one final double
    division (guarded to 1 when there are no relevant docs, so the
    metric reads 0 rather than NULL).

    Scale shape: one broadcast of the query row, a projected scan
    computing distance + relevance in codegen, a TakeOrdered top-10,
    and window/aggregate work on 10 rows — nothing data-sized leaves
    the executors; the relevant-total rides the same scan as a
    map-side-combined sum."""
    from pyspark.sql.window import Window

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.expr("transform(CAST(embedding AS array<double>), "
               "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").alias("v"))
    q = (e.filter(F.col("vec_id") == 0)
         .select(F.col("v").alias("qv"), F.col("label").alias("qlbl")))
    d = (e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
         .select("vec_id",
                 F.expr("aggregate(zip_with(v, qv, (x, y) -> (x-y)*(x-y)), "
                        "0L, (acc, t) -> acc + t)").alias("d2"),
                 F.when(F.col("label") == F.col("qlbl"), 1).otherwise(0)
                 .alias("rel")))
    top = (d.orderBy("d2", "vec_id").limit(10)
           .withColumn("rk", F.row_number().over(
               Window.orderBy("d2", "vec_id"))))
    dcg = top.agg(
        F.sum(F.expr("CAST(round(rel * 1000000 / log2(rk + 1)) AS BIGINT)"))
        .alias("dcg_micro"),
        F.sum("rel").alias("n_rel_top"))
    ideal = (top.filter(F.col("rel") == 1)
             .withColumn("irk", F.row_number().over(
                 Window.orderBy(F.col("rel").desc())))
             .agg(F.sum(F.expr(
                 "CAST(round(1000000 / log2(irk + 1)) AS BIGINT)"))
                 .alias("idcg_micro")))
    tot = d.agg(F.sum("rel").alias("n_rel_total"))
    return (dcg.crossJoin(F.broadcast(ideal)).crossJoin(F.broadcast(tot))
            .select("n_rel_top", "n_rel_total",
                    F.round(F.col("dcg_micro") * 1.0
                            / F.when(F.col("idcg_micro").isNull()
                                     | (F.col("idcg_micro") == 0), 1)
                            .otherwise(F.col("idcg_micro")), 6)
                    .alias("ndcg_at_10")))


@query("similarity_filtered_search", oracle="""
    WITH iv AS (
        SELECT vec_id, label,
               [CAST(floor(x * 1000 + 0.5) AS BIGINT)
                for x in embedding::DOUBLE[]] AS v
        FROM embeddings
    ),
    q AS (SELECT v AS qv, label AS qlbl FROM iv WHERE vec_id = 0),
    d AS (
        SELECT vec_id, label,
               CAST(list_sum([(v[i] - qv[i]) * (v[i] - qv[i])
                              for i in range(1, 65)]) AS BIGINT) AS d2
        FROM iv, q WHERE vec_id <> 0
    ),
    pre AS (
        SELECT vec_id FROM d, q WHERE label = qlbl
        ORDER BY d2, vec_id LIMIT 10
    ),
    post AS (
        SELECT vec_id FROM (
            SELECT vec_id, label FROM d ORDER BY d2, vec_id LIMIT 30
        ), q WHERE label = qlbl
    )
    SELECT CAST((SELECT count(*) FROM pre) AS BIGINT) AS n_true_topk,
           CAST((SELECT count(*) FROM post) AS BIGINT) AS n_post_found,
           CAST((SELECT count(*) FROM pre JOIN post USING (vec_id))
                AS BIGINT) AS n_recovered,
           round((SELECT count(*) FROM pre JOIN post USING (vec_id))
                 * 1.0 / greatest((SELECT count(*) FROM pre), 1), 6)
               AS post_filter_recall
""")
def similarity_filtered_search(spark, sf_dir):
    """Attribute-filtered vector search, both deployment strategies
    measured against each other: PRE-FILTER (restrict the corpus to
    the query's label, then exact top-10 — the ground truth, what a
    filtered index computes natively) vs POST-FILTER (take the global
    top-30 by distance, then drop non-matching labels — what a
    filter-blind ANN index does), reporting how much of the true
    filtered top-10 the post-filter strategy recovers. This is THE
    operational question of constrained vector search (per-tenant or
    per-language retrieval): when the filter is selective (10% here),
    post-filtering a fixed candidate pool silently loses recall, and
    this key puts the exact number on it.

    Exactness: integer-quantized distances, vec_id tie-breaks, exact
    top-k on both paths; recall is one guarded double division.

    Scale shape: one broadcast of the query, one projected distance
    scan feeding BOTH strategies (pre-filter pushes the label
    predicate into the scan — at production scale that is partition
    pruning on the label column), two TakeOrdered top-ks, and
    set-overlap on <= 30 rows."""
    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.expr("transform(CAST(embedding AS array<double>), "
               "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").alias("v"))
    q = (e.filter(F.col("vec_id") == 0)
         .select(F.col("v").alias("qv"), F.col("label").alias("qlbl")))
    d = (e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
         .select("vec_id", "label", "qlbl",
                 F.expr("aggregate(zip_with(v, qv, (x, y) -> (x-y)*(x-y)), "
                        "0L, (acc, t) -> acc + t)").alias("d2")))
    pre = (d.filter(F.col("label") == F.col("qlbl"))
           .orderBy("d2", "vec_id").limit(10).select("vec_id"))
    post = (d.orderBy("d2", "vec_id").limit(30)
            .filter(F.col("label") == F.col("qlbl")).select("vec_id"))
    n_true = pre.agg(F.count("*").alias("n_true_topk"))
    n_post = post.agg(F.count("*").alias("n_post_found"))
    n_rec = (pre.join(post, "vec_id")
             .agg(F.count("*").alias("n_recovered")))
    return (n_true.crossJoin(F.broadcast(n_post))
            .crossJoin(F.broadcast(n_rec))
            .select("n_true_topk", "n_post_found", "n_recovered",
                    F.round(F.col("n_recovered") * 1.0
                            / F.greatest(F.col("n_true_topk"), F.lit(1)), 6)
                    .alias("post_filter_recall")))


@query("similarity_rerank_two_stage", oracle="""
    WITH iv AS (
        SELECT vec_id,
               [CAST(floor(x * 100 + 0.5) AS BIGINT)
                for x in embedding::DOUBLE[]] AS vc,
               [CAST(floor(x * 1000000 + 0.5) AS BIGINT)
                for x in embedding::DOUBLE[]] AS vf
        FROM embeddings
    ),
    q AS (SELECT vc AS qc, vf AS qf FROM iv WHERE vec_id = 0),
    cand AS (
        SELECT vec_id, vf,
               CAST(list_sum([(vc[i] - qc[i]) * (vc[i] - qc[i])
                              for i in range(1, 65)]) AS BIGINT) AS dc
        FROM iv, q WHERE vec_id <> 0
        ORDER BY dc, vec_id LIMIT 30
    ),
    rr AS (
        SELECT cand.vec_id, dc,
               CAST(list_sum([(cand.vf[i] - q.qf[i]) * (cand.vf[i] - q.qf[i])
                              for i in range(1, 65)]) AS BIGINT) AS df,
               row_number() OVER (ORDER BY dc, cand.vec_id) AS rank_coarse
        FROM cand, q
    ),
    fin AS (
        SELECT vec_id, rank_coarse, dc AS d_coarse, df AS d_fine,
               row_number() OVER (ORDER BY df, vec_id) AS rank_fine
        FROM rr
    )
    SELECT vec_id AS n_id, rank_coarse, rank_fine, d_coarse, d_fine
    FROM fin WHERE rank_fine <= 10
""")
def similarity_rerank_two_stage(spark, sf_dir):
    """Retrieve-then-rerank, the two-stage architecture every
    production retrieval system deploys: a CHEAP coarse stage (here
    centi-quantized vectors — 8x fewer mantissa bits, standing in for
    an ANN index or int8 SIMD scan) nominates 30 candidates, and an
    EXPENSIVE precise stage (micro-quantized, standing in for
    full-precision or a cross-encoder) re-scores ONLY those 30. The
    output carries both ranks per surviving document, so the rank
    churn between stages — the thing you monitor to size the candidate
    pool — is directly visible.

    Exactness: both distances are exact integer L2 on quantized
    vectors with vec_id tie-breaks; ranks are row_numbers over <= 30
    rows.

    Scale shape: stage 1 is a broadcast-query projected scan + one
    TakeOrdered(30) — the only corpus-sized work; stage 2 touches 30
    rows (windows over 30 rows are bounded, not data-sized). The
    rerank cost is O(k), decoupled from corpus size — the property
    that lets the precise scorer be arbitrarily expensive."""
    from pyspark.sql.window import Window

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(CAST(embedding AS array<double>), "
               "x -> CAST(floor(x * 100 + 0.5) AS BIGINT))").alias("vc"),
        F.expr("transform(CAST(embedding AS array<double>), "
               "x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))").alias("vf"))
    q = (e.filter(F.col("vec_id") == 0)
         .select(F.col("vc").alias("qc"), F.col("vf").alias("qf")))
    dist = ("aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            "0L, (acc, t) -> acc + t)")
    cand = (e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
            .select("vec_id", "vf", "qf",
                    F.expr(dist.format(a="vc", b="qc")).alias("dc"))
            .orderBy("dc", "vec_id").limit(30))
    rr = cand.select(
        "vec_id", F.col("dc").alias("d_coarse"),
        F.expr(dist.format(a="vf", b="qf")).alias("d_fine"),
        F.row_number().over(Window.orderBy("dc", "vec_id"))
        .alias("rank_coarse"))
    fin = rr.withColumn(
        "rank_fine",
        F.row_number().over(Window.orderBy("d_fine", "vec_id")))
    return (fin.filter(F.col("rank_fine") <= 10)
            .select(F.col("vec_id").alias("n_id"),
                    "rank_coarse", "rank_fine", "d_coarse", "d_fine"))


@query("similarity_mrr_eval", oracle="""
    WITH iv AS (
        SELECT vec_id, label,
               [CAST(floor(x * 1000 + 0.5) AS BIGINT)
                for x in embedding::DOUBLE[]] AS v
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS q_id, label AS qlbl, v AS qv
        FROM iv WHERE vec_id < 10
    ),
    d AS (
        SELECT q_id, qlbl, iv.vec_id, iv.label,
               CAST(list_sum([(v[i] - qv[i]) * (v[i] - qv[i])
                              for i in range(1, 65)]) AS BIGINT) AS d2
        FROM iv, q WHERE iv.vec_id <> q_id
    ),
    best AS (
        SELECT q_id,
               min(CASE WHEN label = qlbl
                        THEN (d2, vec_id) END) AS best_rel
        FROM d GROUP BY q_id
    ),
    rnk AS (
        SELECT d.q_id,
               CAST(1 + sum(CASE WHEN (d.d2, d.vec_id) < b.best_rel
                                 THEN 1 ELSE 0 END) AS BIGINT)
                   AS first_rel_rank
        FROM d JOIN best b ON d.q_id = b.q_id
        WHERE b.best_rel IS NOT NULL
        GROUP BY d.q_id
    ),
    rr AS (
        SELECT q.q_id,
               COALESCE(r.first_rel_rank, CAST(0 AS BIGINT))
                   AS first_rel_rank,
               CASE WHEN r.first_rel_rank IS NULL
                         OR r.first_rel_rank > 10 THEN CAST(0 AS BIGINT)
                    ELSE CAST(round(1000000.0 / r.first_rel_rank)
                              AS BIGINT) END AS rr_micro
        FROM q LEFT JOIN rnk r ON q.q_id = r.q_id
    ),
    m AS (
        SELECT round(sum(rr_micro) / (count(*) * 1000000.0), 6)
                   AS mrr_at_10
        FROM rr
    )
    SELECT q_id, first_rel_rank, rr_micro, mrr_at_10 FROM rr, m
""")
def similarity_mrr_eval(spark, sf_dir):
    """MRR@10 over a 10-query batch (vec_ids 0-9, binary same-label
    relevance) — the third classic rank metric next to
    `similarity_recall` (set overlap) and `similarity_ndcg_eval`
    (graded position credit); MRR cares only where the FIRST relevant
    hit lands.

    The distributed shape is the interesting part: the rank of the
    first relevant document is computed WITHOUT any sort or top-k —
    rank = 1 + |{docs with (d2, vec_id) lexicographically below the
    best relevant doc}|, i.e. one min-aggregate to find the best
    relevant candidate per query and one count-aggregate against it
    (struct comparison keeps the tie-break exact on both engines).
    That is two map-side-combinable aggregates over the scored scan —
    at 100 TB there is no per-query sort, no window over data-sized
    partitions, and adding queries widens the broadcast, not the
    shuffle. Distances are exact integer milli-unit L2; reciprocal
    ranks snap to micro-units per query (SURVEY §4.3) before the one
    final MRR division."""
    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.expr("transform(CAST(embedding AS array<double>), "
               "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").alias("v"))
    q = (e.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("label").alias("qlbl"), F.col("v").alias("qv")))
    d = (e.crossJoin(F.broadcast(q))
         .filter(F.col("vec_id") != F.col("q_id"))
         .select("q_id", "qlbl", "vec_id", "label",
                 F.expr("aggregate(zip_with(v, qv, (x, y) -> (x-y)*(x-y)),"
                        " 0L, (acc, t) -> acc + t)").alias("d2")))
    best = (d.groupBy("q_id")
            .agg(F.min(F.when(F.col("label") == F.col("qlbl"),
                              F.struct("d2", "vec_id"))).alias("best_rel")))
    rnk = (d.join(F.broadcast(best), "q_id")
           .filter(F.col("best_rel").isNotNull())
           .groupBy("q_id")
           .agg((1 + F.sum(F.when(
               F.struct("d2", "vec_id") < F.col("best_rel"), 1)
               .otherwise(0))).cast("bigint").alias("first_rel_rank")))
    rr = (q.select("q_id").join(F.broadcast(rnk), "q_id", "left")
          .select(
              "q_id",
              F.coalesce(F.col("first_rel_rank"), F.lit(0).cast("bigint"))
              .alias("first_rel_rank"),
              F.when(F.col("first_rel_rank").isNull()
                     | (F.col("first_rel_rank") > 10),
                     F.lit(0).cast("bigint"))
              .otherwise(F.round(1000000.0 / F.col("first_rel_rank"))
                         .cast("bigint")).alias("rr_micro")))
    m = rr.agg(F.round(F.sum("rr_micro")
                       / (F.count("*") * 1000000.0), 6).alias("mrr_at_10"))
    return rr.crossJoin(F.broadcast(m))


_MMR_D2 = ("CAST(list_sum([(c.v[i] - s.v[i]) * (c.v[i] - s.v[i]) "
           "for i in range(1, 65)]) AS BIGINT)")


def _mmr_round_sql(r: int) -> str:
    p = r - 1
    return f"""
    p{r} AS MATERIALIZED (
        SELECT {r} AS pick_order, vec_id, label, v, d2q, min_d2_sel
        FROM (
            SELECT c.vec_id, any_value(c.label) AS label,
                   any_value(c.v) AS v, any_value(c.d2q) AS d2q,
                   min({_MMR_D2}) AS min_d2_sel
            FROM cand c CROSS JOIN s{p} s
            WHERE c.vec_id NOT IN (SELECT vec_id FROM s{p})
            GROUP BY c.vec_id
        )
        ORDER BY min_d2_sel - d2q DESC, vec_id LIMIT 1
    ),
    s{r} AS MATERIALIZED (
        SELECT * FROM s{p} UNION ALL SELECT * FROM p{r}
    ),"""


_MMR_ORACLE = ("""
    WITH iv AS (
        SELECT vec_id, label,
               [CAST(floor(x * 1000 + 0.5) AS BIGINT)
                for x in embedding::DOUBLE[]] AS v
        FROM embeddings
    ),
    q AS (SELECT v AS qv FROM iv WHERE vec_id = 0),
    cand AS MATERIALIZED (
        SELECT vec_id, label, v,
               CAST(list_sum([(v[i] - qv[i]) * (v[i] - qv[i])
                              for i in range(1, 65)]) AS BIGINT) AS d2q
        FROM iv, q WHERE vec_id <> 0
        ORDER BY d2q, vec_id LIMIT 20
    ),
    s1 AS MATERIALIZED (
        SELECT 1 AS pick_order, vec_id, label, v, d2q,
               CAST(NULL AS BIGINT) AS min_d2_sel
        FROM cand ORDER BY d2q, vec_id LIMIT 1
    ),"""
    + "".join(_mmr_round_sql(r) for r in range(2, 6)).rstrip().rstrip(",")
    + """
    SELECT CAST(pick_order AS INTEGER) AS pick_order, vec_id, label,
           d2q, min_d2_sel
    FROM s5""")


@query("similarity_mmr_diversify", oracle=_MMR_ORACLE)
def similarity_mmr_diversify(spark, sf_dir):
    """Maximal-marginal-relevance diversified top-5 (Carbonell &
    Goldstein 1998) from a 20-candidate pool around query vector 0 —
    the retrieval-diversity operator a dedup-aware training-data
    sampler uses to avoid returning five near-copies of the same
    nearest neighbor.

    With lambda = 1/2 and similarity = negative L2, the MMR argmax
    reduces to maximizing (min distance to the already-selected set)
    - (distance to the query) — ENTIRELY in exact integer milli-unit
    arithmetic: no float appears anywhere in this key, so both engines
    take identical greedy paths (ties broken by vec_id). Greedy
    selection is inherently sequential, but each round touches only
    the 20-row candidate pool against the <=4 selected rows: the
    corpus-sized work is the ONE TakeOrdered(20) scan building the
    pool; the 5 rounds are constant-size plan stages (candidates
    cut lazily — same plan-growth hygiene as
    graph_kcore). The oracle replays the same greedy loop as chained
    MATERIALIZED CTEs. min_d2_sel is NULL for the first pick (pure
    relevance) and records each later pick's diversity margin."""
    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.expr("transform(CAST(embedding AS array<double>), "
               "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").alias("v"))
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cand = (e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
            .select("vec_id", "label", "v",
                    F.expr("aggregate(zip_with(v, qv, "
                           "(x, y) -> (x-y)*(x-y)), 0L, "
                           "(acc, t) -> acc + t)").alias("d2q"))
            .orderBy("d2q", "vec_id").limit(20)
            .transform(physical.cut))

    sel = (cand.orderBy("d2q", "vec_id").limit(1)
           .select(F.lit(1).alias("pick_order"), "vec_id", "label", "v",
                   "d2q", F.lit(None).cast("bigint").alias("min_d2_sel")))
    d2cs = F.expr("aggregate(zip_with(v, sv, (x, y) -> (x-y)*(x-y)), "
                  "0L, (acc, t) -> acc + t)")
    for r in range(2, 6):
        rem = cand.join(sel.select("vec_id"), "vec_id", "left_anti")
        scored = (rem.crossJoin(F.broadcast(sel.select(
                      F.col("v").alias("sv"))))
                  .withColumn("d2cs", d2cs)
                  .groupBy("vec_id")
                  .agg(F.first("label").alias("label"),
                       F.first("v").alias("v"),
                       F.first("d2q").alias("d2q"),
                       F.min("d2cs").alias("min_d2_sel")))
        pick = (scored
                .orderBy((F.col("min_d2_sel") - F.col("d2q")).desc(),
                         "vec_id")
                .limit(1)
                .select(F.lit(r).alias("pick_order"), "vec_id", "label",
                        "v", "d2q", "min_d2_sel"))
        sel = sel.unionByName(pick).transform(physical.cut)

    return sel.select(F.col("pick_order").cast("int").alias("pick_order"),
                      "vec_id", "label", "d2q", "min_d2_sel")


from .pipeline import _BM25_SQL_CORE  # noqa: E402  (registered earlier)

_HYBRID_RRF_ORACLE = f"""
    WITH {_BM25_SQL_CORE},
    lex AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
                    AS BIGINT) AS lex_rank
        FROM (SELECT * FROM sc WHERE doc_id <> 0
              ORDER BY score_micro DESC, doc_id LIMIT 20)
    ),
    iv2 AS (
        SELECT vec_id,
               [CAST(floor(x * 1000 + 0.5) AS BIGINT)
                for x in embedding::DOUBLE[]] AS v
        FROM embeddings
    ),
    qv AS (SELECT v AS qvec FROM iv2 WHERE vec_id = 0),
    dv AS (
        SELECT vec_id AS doc_id,
               CAST(list_sum([(v[i] - qvec[i]) * (v[i] - qvec[i])
                              for i in range(1, 65)]) AS BIGINT) AS d2
        FROM iv2, qv WHERE vec_id <> 0
    ),
    vec AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY d2, doc_id) AS BIGINT)
                   AS vec_rank
        FROM (SELECT * FROM dv ORDER BY d2, doc_id LIMIT 20)
    ),
    fused AS (
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
               l.lex_rank, v.vec_rank,
               COALESCE(CAST(round(1000000.0 / (60 + l.lex_rank))
                             AS BIGINT), 0)
               + COALESCE(CAST(round(1000000.0 / (60 + v.vec_rank))
                               AS BIGINT), 0) AS rrf_micro
        FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id)
                AS BIGINT) AS rank,
           doc_id, lex_rank, vec_rank, rrf_micro
    FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT 10
"""


@query("search_hybrid_rrf", oracle=_HYBRID_RRF_ORACLE)
def search_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al.
    2009, k=60): the lexical arm is the shared BM25 scorer
    (queries/pipeline.py:bm25_scores, same 3-term query), the vector
    arm is exact integer milli-L2 against query vector 0; each arm
    nominates its top-20, and RRF fuses them by summed 1/(60 + rank)
    — the standard score-free fusion that needs NO calibration between
    BM25's unbounded scores and a distance metric, which is exactly
    why hybrid stacks use it.

    Exactness: ranks are exact integers, each arm's reciprocal-rank
    contribution snaps to micro-units per row before the (exact
    BIGINT) fusion sum; a doc absent from one arm contributes 0 from
    it (FULL OUTER join of the two 20-row lists, nullable per-arm
    ranks preserved in the output for audit). Distributed shape: the
    two arms are independent TakeOrdered(20) pipelines over their own
    scans — fusion itself touches <= 40 rows. The query doc (id 0) is
    excluded from both arms."""
    from pyspark.sql import Window

    from .pipeline import bm25_scores

    d = T(spark, sf_dir, "documents")
    lex20 = (bm25_scores(d).filter(F.col("doc_id") != 0)
             .orderBy(F.col("score_micro").desc(), "doc_id").limit(20))
    lex = lex20.select(
        "doc_id",
        F.row_number().over(Window.orderBy(F.col("score_micro").desc(),
                                           "doc_id"))
        .cast("bigint").alias("lex_rank"))

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(CAST(embedding AS array<double>), "
               "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").alias("v"))
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    dv = (e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
          .select(F.col("vec_id").alias("doc_id"),
                  F.expr("aggregate(zip_with(v, qv, (x, y) -> "
                         "(x-y)*(x-y)), 0L, (acc, t) -> acc + t)")
                  .alias("d2")))
    vec20 = dv.orderBy("d2", "doc_id").limit(20)
    vec = vec20.select(
        "doc_id",
        F.row_number().over(Window.orderBy("d2", "doc_id"))
        .cast("bigint").alias("vec_rank"))

    rr = lambda c: F.coalesce(  # noqa: E731 — tiny local combinator
        F.round(1000000.0 / (60 + c)).cast("bigint"), F.lit(0))
    fused = (lex.join(vec, "doc_id", "full_outer")
             .select("doc_id", "lex_rank", "vec_rank",
                     (rr(F.col("lex_rank"))
                      + rr(F.col("vec_rank"))).alias("rrf_micro")))
    top = (fused.orderBy(F.col("rrf_micro").desc(), "doc_id").limit(10)
           .withColumn("rank", F.row_number().over(
               Window.orderBy(F.col("rrf_micro").desc(), "doc_id"))
               .cast("bigint")))
    return top.select("rank", "doc_id", "lex_rank", "vec_rank",
                      "rrf_micro")


_NEG_THRESH = 200_000_000  # h32 threshold: ~4.7% of the 32-bit space


@query("sample_negatives_contrastive", oracle=f"""
    WITH anchors AS (
        SELECT vec_id AS q_id, label AS qlbl FROM embeddings
        WHERE vec_id < 10
    ),
    cand AS (
        SELECT a.q_id, e.vec_id, e.label,
               {h32_sql("a.q_id || ':' || CAST(e.vec_id AS VARCHAR)")} AS h
        FROM anchors a, embeddings e
        WHERE e.vec_id <> a.q_id AND e.label <> a.qlbl
    ),
    thr AS (SELECT * FROM cand WHERE h < {_NEG_THRESH}),
    rnk AS (
        SELECT q_id, vec_id, label, h,
               CAST(row_number() OVER (PARTITION BY q_id
                                       ORDER BY h, vec_id) AS BIGINT)
                   AS neg_rank
        FROM thr
    )
    SELECT q_id, neg_rank, vec_id, label, h
    FROM rnk WHERE neg_rank <= 5
""")
def sample_negatives_contrastive(spark, sf_dir):
    """Deterministic uniform negative sampling for contrastive
    training: for each of the 10 anchor vectors, draw 5 different-label
    negatives by hash order — h32(anchor:candidate) makes the 'random'
    draw a pure function of the pair, so resharding, retries, and both
    engines reproduce the identical sample (the property a training
    pipeline needs for resumable epochs).

    The scale trick is the HASH-THRESHOLD PRE-FILTER: candidates are
    cut to h < tau (~4.7% of the hash space) BEFORE any ranking, so
    the per-anchor window sorts an O(tau * N) expected handful, not
    the corpus — the same pre-sampling a billion-document pipeline
    uses to avoid materializing every (anchor, candidate) pair. The
    5 smallest hashes survive any tau above their value, so the
    filtered top-5 equals the unfiltered top-5 whenever >= 5
    candidates clear the threshold (both engines apply the same rule,
    so the contract holds even in the degenerate under-5 case).
    In-batch negatives are what most stacks default to; this is the
    explicit-sampling variant that controls the negative distribution
    (excluding same-label collisions, which in-batch sampling
    cannot)."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "embeddings").select("vec_id", "label")
    anchors = (e.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("label").alias("qlbl")))
    cand = (e.crossJoin(F.broadcast(anchors))
            .filter((F.col("vec_id") != F.col("q_id"))
                    & (F.col("label") != F.col("qlbl")))
            .select("q_id", "vec_id", "label",
                    h32(F.concat(F.col("q_id").cast("string"), F.lit(":"),
                                 F.col("vec_id").cast("string")))
                    .alias("h"))
            .filter(F.col("h") < _NEG_THRESH))
    rnk = cand.withColumn(
        "neg_rank",
        F.row_number().over(Window.partitionBy("q_id")
                            .orderBy("h", "vec_id")).cast("bigint"))
    return (rnk.filter(F.col("neg_rank") <= 5)
            .select("q_id", "neg_rank", "vec_id", "label", "h"))


@query("embedding_binary_quant", oracle="""
    WITH iv AS (
        SELECT vec_id,
               [CAST(floor(x * 1000 + 0.5) AS BIGINT)
                for x in embedding::DOUBLE[]] AS v
        FROM embeddings
    ),
    dims AS (
        SELECT vec_id, u.i AS i, u.x AS x FROM (
            SELECT vec_id,
                   unnest([{'i': i, 'x': v[i]} for i in range(1, 65)]) AS u
            FROM iv)
    ),
    ctr AS (
        SELECT i, CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT)
                   AS c
        FROM dims GROUP BY i
    ),
    codes AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN i <= 32
                             THEN CAST(CASE WHEN x > c THEN 1 ELSE 0 END
                                       AS BIGINT) << (i - 1)
                             ELSE 0 END) AS BIGINT) AS lo,
               CAST(sum(CASE WHEN i > 32
                             THEN CAST(CASE WHEN x > c THEN 1 ELSE 0 END
                                       AS BIGINT) << (i - 33)
                             ELSE 0 END) AS BIGINT) AS hi
        FROM dims JOIN ctr USING (i)
        GROUP BY vec_id
    ),
    qc AS (SELECT lo AS qlo, hi AS qhi FROM codes WHERE vec_id = 0),
    ham AS (
        SELECT vec_id,
               CAST(bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi))
                    AS BIGINT) AS hamming
        FROM codes, qc WHERE vec_id <> 0
    ),
    btop AS (
        SELECT vec_id FROM ham ORDER BY hamming, vec_id LIMIT 10
    ),
    qv AS (SELECT v AS qvec FROM iv WHERE vec_id = 0),
    etop AS (
        SELECT vec_id FROM (
            SELECT vec_id,
                   CAST(list_sum([(v[i] - qvec[i]) * (v[i] - qvec[i])
                                  for i in range(1, 65)]) AS BIGINT) AS d2
            FROM iv, qv WHERE vec_id <> 0
        ) ORDER BY d2, vec_id LIMIT 10
    ),
    ov AS (
        SELECT CAST(count(*) AS BIGINT) AS n_overlap
        FROM btop JOIN etop USING (vec_id)
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM iv)
    SELECT n_vectors, n_overlap,
           round(n_overlap / 10.0, 2) AS recall_at_10
    FROM n, ov
""")
def embedding_binary_quant(spark, sf_dir):
    """1-bit (binary) embedding quantization with recall\\@10 against the
    exact-L2 ground truth — the 32x-compression rerank-first stage
    modern vector stacks ship (sign quantization + Hamming distance;
    cf. the Matryoshka key for the truncation axis, PQ/IVF-PQ for the
    codebook axis).

    Binarization is mean-centered per dimension (raw sign would be
    degenerate if a dimension never changes sign): the per-dim center
    is the integer-DIV mean of the milli-unit values, so bit
    assignment is an EXACT integer comparison on both engines; the 64
    bits pack into two BIGINT halves via in-aggregate shifts (bit 63
    never touches a sign bit), and Hamming distance is two XORs + two
    bit_counts — pure integer ops end to end, the whole point of
    binary codes: at 100 TB, 16 bytes/vector scan with popcount
    beats any float kernel, then the float rerank touches only the
    shortlist. recall@10 here reports exactly how much that
    compression costs on this corpus. Distributed shape: one explode
    + per-dim mean (64 groups), one code aggregate per vector, one
    broadcast of the 16-byte query code, two TakeOrdered(10)s."""
    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(CAST(embedding AS array<double>), "
               "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").alias("v"))
    dims = (e.select("vec_id", F.posexplode("v").alias("p", "x"))
            .select("vec_id", (F.col("p") + 1).alias("i"), "x"))
    ctr = dims.groupBy("i").agg(
        F.expr("CAST(sum(x) DIV count(*) AS BIGINT)").alias("c"))
    bit_sql = "CAST(CASE WHEN x > c THEN 1 ELSE 0 END AS BIGINT)"
    codes = (dims.join(F.broadcast(ctr), "i")
             .groupBy("vec_id")
             .agg(F.expr(f"CAST(sum(CASE WHEN i <= 32 THEN "
                         f"shiftleft({bit_sql}, CAST(i - 1 AS INT)) "
                         f"ELSE 0 END) AS BIGINT)").alias("lo"),
                  F.expr(f"CAST(sum(CASE WHEN i > 32 THEN "
                         f"shiftleft({bit_sql}, CAST(i - 33 AS INT)) "
                         f"ELSE 0 END) AS BIGINT)").alias("hi")))
    qc = (codes.filter(F.col("vec_id") == 0)
          .select(F.col("lo").alias("qlo"), F.col("hi").alias("qhi")))
    ham = (codes.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qc))
           .select("vec_id",
                   (F.bit_count(F.expr("lo ^ qlo"))
                    + F.bit_count(F.expr("hi ^ qhi"))).cast("bigint")
                   .alias("hamming")))
    btop = ham.orderBy("hamming", "vec_id").limit(10).select("vec_id")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qvec"))
    etop = (e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))
            .select("vec_id",
                    F.expr("aggregate(zip_with(v, qvec, (x, y) -> "
                           "(x-y)*(x-y)), 0L, (acc, t) -> acc + t)")
                    .alias("d2"))
            .orderBy("d2", "vec_id").limit(10).select("vec_id"))
    ov = btop.join(etop, "vec_id").agg(F.count("*").alias("n_overlap"))
    n = e.agg(F.count("*").alias("n_vectors"))
    return (n.crossJoin(F.broadcast(ov))
            .select("n_vectors", "n_overlap",
                    F.round(F.col("n_overlap") / 10.0, 2)
                    .alias("recall_at_10")))


_KC_D2 = ("CAST(list_sum([(m.v[i] - p.v[i]) * (m.v[i] - p.v[i]) "
          "for i in range(1, 65)]) AS BIGINT)")


def _kcenter_round_sql(r: int) -> str:
    prev = f"m{r - 1}"
    return f"""
    p{r} AS MATERIALIZED (
        SELECT vec_id, label, v, mind FROM {prev}
        ORDER BY mind DESC, vec_id LIMIT 1
    ),
    m{r} AS MATERIALIZED (
        SELECT m.vec_id, m.label, m.v,
               least(m.mind, {_KC_D2}) AS mind
        FROM {prev} m, p{r} p
        WHERE m.vec_id <> p.vec_id
    ),"""


_KCENTER_ORACLE = ("""
    WITH pts AS (
        SELECT vec_id, label,
               [CAST(floor(x * 1000 + 0.5) AS BIGINT)
                for x in embedding::DOUBLE[]] AS v
        FROM embeddings
    ),
    s1 AS MATERIALIZED (
        SELECT vec_id, label, v FROM pts WHERE vec_id = 0
    ),
    m1 AS MATERIALIZED (
        SELECT m.vec_id, m.label, m.v, {d2s1} AS mind
        FROM pts m, s1 p WHERE m.vec_id <> 0
    ),"""
    .format(d2s1=_KC_D2)
    + "".join(_kcenter_round_sql(r) for r in range(2, 6))
    .rstrip().rstrip(",")
    + """,
    sel AS (
        SELECT 1 AS pick_order, vec_id, label,
               CAST(NULL AS BIGINT) AS sel_dist
        FROM s1
        UNION ALL SELECT 2, vec_id, label, mind FROM p2
        UNION ALL SELECT 3, vec_id, label, mind FROM p3
        UNION ALL SELECT 4, vec_id, label, mind FROM p4
        UNION ALL SELECT 5, vec_id, label, mind FROM p5
    ),
    cov AS (SELECT CAST(max(mind) AS BIGINT) AS coverage_d2 FROM m5)
    SELECT CAST(pick_order AS INTEGER) AS pick_order, vec_id, label,
           sel_dist, coverage_d2
    FROM sel, cov
""")


@query("sample_kcenter_seeds", oracle=_KCENTER_ORACLE)
def sample_kcenter_seeds(spark, sf_dir):
    """Gonzalez greedy k-center (1985): pick 5 maximally-spread seed
    vectors — each round selects the point FARTHEST from everything
    chosen so far (maximin), the 2-approximation to the NP-hard
    k-center cover and the standard seeding for clustering /
    diversity-aware data selection (contrast with `similarity_mmr_
    diversify`, which diversifies a relevance-filtered 20-row pool;
    k-center sweeps the WHOLE corpus each round).

    Distributed shape per round: one `least(mind, d2(v, new_center))`
    update against the broadcast 1-row pick (the classic incremental
    trick — min-distance state rides WITH each point, so round r
    costs one projection + one TakeOrdered(1), never a pairwise
    matrix), with a lazy lineage cut of the per-round plan
    (graph_kcore lesson). All distances exact integer milli-L2: the
    greedy path and the final coverage radius (max-min distance of
    the unselected corpus, the quantity k-center minimizes) are
    hash-identical on both engines. sel_dist records each pick's
    distance to the prior set — NULL for the arbitrary seed."""
    from pyspark.sql import Window  # noqa: F401  (parity w/ siblings)

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.expr("transform(CAST(embedding AS array<double>), "
               "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").alias("v"))
    d2 = F.expr("aggregate(zip_with(v, cv, (x, y) -> (x-y)*(x-y)), "
                "0L, (acc, t) -> acc + t)")
    seed = e.filter(F.col("vec_id") == 0)
    m = (e.filter(F.col("vec_id") != 0)
         .crossJoin(F.broadcast(seed.select(F.col("v").alias("cv"))))
         .select("vec_id", "label", "v", d2.alias("mind"))
         .transform(physical.cut))
    sel = seed.select(F.lit(1).alias("pick_order"), "vec_id", "label",
                      F.lit(None).cast("bigint").alias("sel_dist"))
    for r in range(2, 6):
        pick = m.orderBy(F.col("mind").desc(), "vec_id").limit(1) \
                .transform(physical.cut)
        sel = sel.unionByName(
            pick.select(F.lit(r).alias("pick_order"), "vec_id", "label",
                        F.col("mind").alias("sel_dist")))
        m = (m.join(pick.select("vec_id"), "vec_id", "left_anti")
             .crossJoin(F.broadcast(pick.select(F.col("v").alias("cv"))))
             .select("vec_id", "label", "v",
                     F.least(F.col("mind"), d2).alias("mind"))
             .transform(physical.cut))
    cov = m.agg(F.max("mind").alias("coverage_d2"))
    return (sel.crossJoin(F.broadcast(cov))
            .select(F.col("pick_order").cast("int").alias("pick_order"),
                    "vec_id", "label", "sel_dist", "coverage_d2"))
