"""Semantic guards for the corpus-governance batch (curation2 +
round-5 SQL-surface keys): the oracle gate proves Spark == DuckDB;
these prove the operators mean what they claim — the split is a
disjoint, stable partition of the corpus; the source matrix is
symmetric-canonical and counts real cross-source duplicates; winnowing
fingerprints honor the shared-run guarantee; try_* functions return
NULL exactly where ANSI mode would raise; and min-label propagation
lands on the same components full reachability would."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import h32


def test_train_val_split_is_disjoint_total_and_stable(spark, sf_dir):
    from excel_to_db_spark.queries.curation2 import pipeline_train_val_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_total = docs.count()
    rows = {r.split: r for r in
            pipeline_train_val_split(spark, sf_dir).collect()}
    assert set(rows) == {"train", "val", "test"}
    # total partition: every document lands in exactly one split
    assert sum(r.n_docs for r in rows.values()) == n_total
    # 90/5/5 within binomial tolerance at n=500
    assert rows["train"].n_docs / n_total > 0.8
    assert rows["val"].n_docs / n_total < 0.12
    assert rows["test"].n_docs / n_total < 0.12
    # stability: a second run assigns identical censuses (no RNG state)
    again = {r.split: r.n_docs for r in
             pipeline_train_val_split(spark, sf_dir).collect()}
    assert again == {k: v.n_docs for k, v in rows.items()}


def test_source_matrix_counts_real_cross_source_dups(spark, sf_dir):
    from excel_to_db_spark.queries.curation2 import dedup_source_matrix

    rows = dedup_source_matrix(spark, sf_dir).collect()
    assert rows, "fixture corpus is known to contain cross-source dups"
    # canonical ordering: each unordered pair appears once, a < b
    pairs = [(r.src_a, r.src_b) for r in rows]
    assert all(a < b for a, b in pairs)
    assert len(set(pairs)) == len(pairs)
    # spot-check one pair against a direct computation
    sig = F.md5(F.array_join(F.array_sort(F.array_distinct(
        F.split(F.col("text"), " "))), " ")).alias("sig")
    s = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .select(sig, "source").distinct())
    a, b = pairs[0]
    direct = (s.filter(F.col("source") == a).select("sig")
              .intersect(s.filter(F.col("source") == b).select("sig"))
              .count())
    got = next(r.n_shared for r in rows if (r.src_a, r.src_b) == (a, b))
    assert got == direct


def test_winnowing_guarantee_shared_runs_share_a_fingerprint(spark):
    """Two documents sharing a run of >= k+w-1 = 8 words must share at
    least one winnowing fingerprint (the scheme's core guarantee)."""
    from excel_to_db_spark.queries.curation2 import text_winnowing
    import tempfile

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    docs = [
        (1, f"one two three four five {shared} six seven eight nine ten"),
        (2, f"{shared} aa bb cc dd ee ff gg hh"),
        (3, "unrelated words only here nothing matches at all twelve"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    tmp = tempfile.mkdtemp(prefix="winnow_")
    d.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")

    # recompute the full fingerprint sets (the key returns the census;
    # the guarantee needs the sets, so rebuild them with the same expr)
    words = F.split(F.col("text"), " ")
    hs = F.expr(
        "transform(sequence(1, size(words) - 4), i -> "
        "cast(conv(substring(md5(array_join(slice(words, i, 5), ' ')), "
        "1, 8), 16, 10) as bigint))")
    mins = F.expr(
        "array_distinct(transform(sequence(1, size(hs) - 3), j -> "
        "array_min(slice(hs, j, 4))))")
    fps = {r.doc_id: set(r.fps) for r in
           d.select("doc_id", words.alias("words"))
           .select("doc_id", hs.alias("hs"))
           .select("doc_id", mins.alias("fps")).collect()}
    assert fps[1] & fps[2], "8-word shared run must share a fingerprint"
    assert not (fps[1] & fps[3])
    # and the census key agrees with the set sizes
    census = {r.doc_id: r.n_fp for r in text_winnowing(spark, tmp).collect()}
    assert census == {k: len(v) for k, v in fps.items()}


def test_try_funcs_null_exactly_where_ansi_raises(spark, sf_dir):
    from excel_to_db_spark.queries.sql_features import ansi_try_funcs

    rows = {r.id: r for r in ansi_try_funcs(spark, sf_dir).collect()}
    assert rows[1].div_q == 5.0 and rows[2].div_q is None
    assert rows[1].mul_t == 30 and rows[3].mul_t is None  # overflow
    assert rows[1].cast_c == 123 and rows[2].cast_c is None
    assert rows[3].cast_c is None  # int32 overflow
    assert rows[4].elem_e is None  # index 4 out of bounds
    # the non-try sibling RAISES under ANSI mode on the same input
    import pytest
    with pytest.raises(Exception):
        spark.sql("SELECT 7 / 0").collect()


def test_graph_components_match_reachability(spark, sf_dir):
    from excel_to_db_spark.queries.events_graph import graph_components

    labels = {r.node: r.component for r in
              graph_components(spark, sf_dir).collect()}
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").collect()
    assert set(labels) == {r.n_nationkey for r in nation}
    # labels are canonical: every component is labeled by its min member
    by_comp = {}
    for node, comp in labels.items():
        by_comp.setdefault(comp, []).append(node)
    for comp, members in by_comp.items():
        assert comp == min(members)
    # intra-region edges only => a component never spans two regions
    region = {r.n_nationkey: r.n_regionkey for r in nation}
    for members in by_comp.values():
        assert len({region[m] for m in members}) == 1


def test_pipe_syntax_matches_classic_form(spark, sf_dir):
    from excel_to_db_spark.queries.sql_features import sql_pipe_syntax

    got = {(r.o_orderpriority, r.n, r.cents)
           for r in sql_pipe_syntax(spark, sf_dir).collect()}
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    want = {(r.o_orderpriority, r.n, r.cents) for r in
            o.filter(F.col("o_orderdate") >= "1995-01-01")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                 .alias("cents")).collect()}
    assert got == want


def test_posexplode_outer_keeps_empty_parents(spark, sf_dir):
    from excel_to_db_spark.queries.relational2 import generator_funcs

    rows = generator_funcs(spark, sf_dir).collect()
    # every (region, metric) parent survives, even with an empty sequence
    parents = {(r.r_regionkey, r.metric) for r in rows}
    assert len(parents) == 10  # 5 regions x 2 stacked metrics
    empties = [r for r in rows if r.val % 3 == 0]
    assert empties and all(r.pos is None and r.item is None
                           for r in empties)
    nonempty = [r for r in rows if r.val % 3 != 0]
    assert all(r.item == r.pos + 1 for r in nonempty)


def test_pq_codes_are_self_consistent(spark, sf_dir):
    """Centroid vectors must encode to themselves (distance 0 in every
    subspace), and ADC must equal the exact integer distance when the
    vector IS its own assigned centroid chain."""
    from excel_to_db_spark.queries.similarity2 import similarity_pq

    rows = {r.vec_id: r for r in similarity_pq(spark, sf_dir).collect()}
    # codebook vectors encode to their own id in every subspace
    for c in range(16):
        assert rows[c].pq_code == "-".join([str(c)] * 8)
    # the query vector (0) is centroid 0 everywhere => ADC 0
    assert rows[0].adc == 0
    # ADC is a valid lower-bound-ish surrogate: non-negative everywhere
    assert all(r.adc >= 0 for r in rows.values())


def test_cdc_chunks_are_shift_robust(spark):
    """Inserting one word at the front must leave every chunk after the
    first content-defined boundary identical — the property fixed-stride
    chunking lacks."""
    import tempfile
    from excel_to_db_spark.queries.curation2 import text_cdc_chunks

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
            "omega one two three four five six seven eight nine ten")
    docs = [(1, "srcA", base), (2, "srcB", "INSERTED " + base)]
    d = spark.createDataFrame(docs, "doc_id long, source string, text string")
    tmp = tempfile.mkdtemp(prefix="cdc_")
    d.withColumn("lang", F.lit("en")) \
     .withColumn("n_chars", F.length("text")) \
     .write.mode("overwrite").parquet(f"{tmp}/documents.parquet")

    from pyspark.sql import functions as SF
    w = (spark.read.parquet(f"{tmp}/documents.parquet")
         .select("doc_id", SF.split("text", " ").alias("words")))
    edges = SF.expr(
        "concat(array(0), filter(sequence(1, size(words) - 1), i -> "
        "cast(conv(substring(md5(element_at(words, i)), 1, 8), 16, 10) "
        "as bigint) % 8 = 0), array(size(words)))")
    chunks = SF.expr(
        "transform(sequence(1, size(edges) - 1), j -> "
        "array_join(slice(words, element_at(edges, j) + 1, "
        "element_at(edges, j + 1) - element_at(edges, j)), ' '))")
    by_doc = {r.doc_id: r.cs for r in
              w.select("doc_id", "words", edges.alias("edges"))
              .select("doc_id", chunks.alias("cs")).collect()}
    a, b = set(by_doc[1]), set(by_doc[2])
    # all chunks after the first boundary realign: at most ONE chunk of
    # the original is lost (the head chunk the insertion lands in)
    assert len(a - b) <= 1
    assert len(b - a) <= 1
    # and the census runs end to end over the fixture
    rows = {r.source: r for r in text_cdc_chunks(spark, tmp).collect()}
    assert rows["srcA"].n_chunks == len(by_doc[1])


def test_bootstrap_ci_brackets_the_true_mean(spark, sf_dir):
    from excel_to_db_spark.queries.curation2 import stats_bootstrap_ci

    row = stats_bootstrap_ci(spark, sf_dir).collect()[0]
    assert row.n_resamples == 32
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    true_q6 = int(o.agg(
        F.expr("CAST(avg(CAST(round(o_totalprice * 100) AS BIGINT)) "
               "* 1000000 AS BIGINT)")).collect()[0][0])
    # the percentile CI must bracket the true mean and be ordered
    assert row.ci_lo_q6 <= row.ci_hi_q6
    assert row.ci_lo_q6 <= true_q6 <= row.ci_hi_q6
    # resampling error is small relative to the mean (CLT sanity)
    assert abs(row.mean_of_means_q6 - true_q6) / true_q6 < 0.05
    # deterministic: identical on re-run
    again = stats_bootstrap_ci(spark, sf_dir).collect()[0]
    assert (again.ci_lo_q6, again.ci_hi_q6) == (row.ci_lo_q6, row.ci_hi_q6)


def test_feature_hashing_census_matches_direct_vectors(spark):
    import tempfile
    from collections import Counter
    from excel_to_db_spark.queries.curation2 import text_feature_hashing

    docs = [(1, "a b a c"), (2, "x x x"), (3, "p q r s t u v w")]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    tmp = tempfile.mkdtemp(prefix="fh_")
    (d.withColumn("lang", F.lit("en")).withColumn("source", F.lit("s"))
     .withColumn("n_chars", F.length("text"))
     .write.mode("overwrite").parquet(f"{tmp}/documents.parquet"))

    want = {}
    for doc_id, text in docs:
        vec = Counter()
        for t in text.split(" "):
            vec[h32("fh:" + t) % 32] += 1 if h32("sg:" + t) % 2 == 0 else -1
        want[doc_id] = (sum(1 for v in vec.values() if v != 0),
                        sum(abs(v) for v in vec.values()),
                        sum(v * v for v in vec.values()))
    got = {r.doc_id: (r.nnz, r.l1, r.sq_norm)
           for r in text_feature_hashing(spark, tmp).collect()}
    assert got == want


def test_stream_full_outer_emits_both_expiry_classes(spark, sf_dir):
    """Full-outer stream-stream join: matched pairs + click-side NULLs
    older than wm-interval + view-side NULLs older than wm — checked
    against the batch-computed emission rule."""
    from excel_to_db_spark.queries.curation2 import stream_stream_full
    from excel_to_db_spark.tables import load_table

    rows = stream_stream_full(spark, sf_dir).collect()
    got_nv = {(r.user_id, r.click_id) for r in rows if r.view_id is None}
    got_nc = {(r.user_id, r.view_id) for r in rows if r.click_id is None}

    e = load_table(spark, sf_dir, "events")
    c = (e.filter(F.col("event_type") == "click")
         .select("user_id", F.col("event_id").alias("click_id"),
                 F.col("ts").alias("click_ts")))
    v = (e.filter(F.col("event_type") == "view")
         .select(F.col("user_id").alias("v_user"),
                 F.col("event_id").alias("view_id"),
                 F.col("ts").alias("view_ts")))
    cut_row = (c.agg(F.max("click_ts").alias("mc")).crossJoin(
        v.agg(F.max("view_ts").alias("mv"))).select(
        F.expr("least(mc, mv) - INTERVAL 30 minutes").alias("cut"))
        .collect()[0])
    cond = ((F.col("user_id") == F.col("v_user"))
            & (F.col("view_ts") > F.col("click_ts"))
            & (F.col("view_ts") <= F.col("click_ts")
               + F.expr("INTERVAL 10 minutes")))
    lj = c.join(v, cond, "left")
    want_nv = {(r.user_id, r.click_id) for r in
               lj.filter(F.col("view_id").isNull()
                         & (F.col("click_ts") < F.lit(cut_row.cut)
                            - F.expr("INTERVAL 10 minutes"))).collect()}
    want_nc = {(r.v_user, r.view_id) for r in
               v.join(c, cond, "left_anti")
               .filter(F.col("view_ts") < F.lit(cut_row.cut)).collect()}
    assert got_nv == want_nv
    assert got_nc == want_nc


def test_late_audit_excludes_early_half_and_surfaces_drops(spark, sf_dir):
    from excel_to_db_spark.streaming.windows import run_stream_late_audit
    from excel_to_db_spark.tables import load_table

    import datetime

    df, dropped = run_stream_late_audit(spark, sf_dir)
    got = {r.day: r.n_events for r in df.collect()}
    # the engine's late-drop observability metric surfaced
    assert dropped > 0
    # FULL set equality with the contract (not a subset check: if the
    # middle staged file were ever late-dropped too, a subset check
    # would still pass): every late-half day whose window closed under
    # the final watermark, with its complete batch count
    e = load_table(spark, sf_dir, "events")
    wm = (e.filter(F.col("ts") >= "2024-01-16").agg(F.max("ts"))
          .collect()[0][0] - datetime.timedelta(minutes=2 * 24 * 60))
    want = {r.day: r.n for r in
            e.filter(F.col("ts") >= "2024-01-16")
            .groupBy(F.date_trunc("day", "ts").alias("day"))
            .agg(F.count("*").alias("n")).collect()
            if r.day + datetime.timedelta(days=1) <= wm}
    assert got == want


def test_theil_sen_resists_outliers_where_ols_does_not(spark):
    """One massive spike day must barely move the Theil-Sen slope while
    dragging the OLS slope far from truth — the estimator's reason to
    exist."""
    base = [(x, 1000 + 10 * x) for x in range(30)]           # slope 10
    spiked = [(x, y if x != 15 else y + 1_000_000) for x, y in base]
    d = spark.createDataFrame(spiked, "x int, y long")
    a = d.select(F.col("x").alias("ax"), F.col("y").alias("ay"))
    b = d.select(F.col("x").alias("bx"), F.col("y").alias("by"))
    ts = (a.join(b, F.col("bx") > F.col("ax"))
          .select(((F.col("by") - F.col("ay"))
                   / (F.col("bx") - F.col("ax")).cast("double"))
                  .alias("s"))
          .agg(F.percentile("s", F.lit(0.5))).collect()[0][0])
    ols = d.agg(F.expr("regr_slope(y, x)")).collect()[0][0]
    assert abs(ts - 10) < 1.0          # robust: spike barely moves it
    assert abs(ols - 10) > 100         # OLS dragged by the spike


def test_stateful_timeout_sessions_match_batch_rule(spark, sf_dir):
    """Emitted set == batch sessionization under the pinned rule: every
    non-final session closes by 'gap'; final sessions close by
    'timeout' iff the final watermark passed last_ts + gap."""
    import datetime
    from pyspark.sql.window import Window as W
    from excel_to_db_spark.streaming.stateful import run_stateful_sessions
    from excel_to_db_spark.tables import load_table

    got = {(r.user_id, r.sess_start, r.sess_last, r.n_events, r.closed_by)
           for r in run_stateful_sessions(spark, sf_dir).collect()}
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    w = W.partitionBy("user_id").orderBy("ts")
    sid = (e.withColumn("prev", F.lag("ts").over(w))
           .withColumn("brk", F.when(
               F.col("prev").isNull()
               | (F.col("ts").cast("long") - F.col("prev").cast("long")
                  > 300), 1).otherwise(0))
           .withColumn("sid", F.sum("brk").over(
               w.rowsBetween(W.unboundedPreceding, 0))))
    sess = (sid.groupBy("user_id", "sid")
            .agg(F.min("ts").alias("s"), F.max("ts").alias("l"),
                 F.count("*").alias("n")))
    mx = sess.groupBy("user_id").agg(F.max("sid").alias("last_sid"))
    wm = (e.agg(F.max("ts")).collect()[0][0]
          - datetime.timedelta(minutes=10))
    want = set()
    for r in sess.join(mx, "user_id").collect():
        if r.sid != r.last_sid:
            want.add((r.user_id, r.s, r.l, r.n, "gap"))
        elif r.l + datetime.timedelta(minutes=5) < wm:
            want.add((r.user_id, r.s, r.l, r.n, "timeout"))
    assert got == want and any(c == "timeout" for *_, c in got)
    # r12: the query key now serves the one-window-pass batch
    # emulation; this run pins it row-identical to the real streaming
    # execution above (and hence to the pinned rule).
    from excel_to_db_spark.streaming.stateful import sessionize_events_batch

    fast = {(r.user_id, r.sess_start, r.sess_last, r.n_events, r.closed_by)
            for r in sessionize_events_batch(spark, sf_dir).collect()}
    assert fast == got


def test_checkpoint_resume_processes_only_new_data(spark, sf_dir):
    """The second run against the shared checkpoint must read ONLY the
    newly-arrived half (offset log) and still emit the full-log totals
    (state restore) — equality with batch alone cannot distinguish
    resume from silent reprocess-everything, the input-row counts can."""
    from excel_to_db_spark.numerics import cents_sum
    from excel_to_db_spark.streaming.replay import staged_checkpoint_replay
    from excel_to_db_spark.tables import load_table

    def agg(stream):
        return (stream.groupBy("event_type")
                .agg(F.count("*").alias("n"),
                     cents_sum(F.col("value")).alias("sv")))

    out, progress1, progress2, halves = staged_checkpoint_replay(
        spark, sf_dir, agg)
    batch = load_table(spark, sf_dir, "events")
    r1 = sum(p["numInputRows"] for p in progress1)
    r2 = sum(p["numInputRows"] for p in progress2)
    assert r1 == halves[0].count()
    assert r2 == halves[1].count()          # ONLY the new file
    got = {(r.event_type, r.n) for r in
           out.select("event_type", "n").collect()}
    want = {(r.event_type, r["count"]) for r in
            batch.groupBy("event_type").count().collect()}
    assert got == want
