"""Query/operator registry package (the driver-contract backing store).

Importing this package populates :data:`REGISTRY` through the operator
modules' registration side effects — each module decorates its functions
with :func:`excel_to_db_spark.queries.registry.query`. ``__spark_entry__``
exposes the result via ``queries()`` / ``oracle_sql()``.
"""

from .registry import REGISTRY, QuerySpec, oracle_sqls, query

# Registration side effects — each import adds its operators to REGISTRY.
from . import relational  # noqa: E402,F401  Tier B: scans/joins/aggs/windows/setops
from . import relational2  # noqa: E402,F401  Tier B: order stats/lateral/maps/intervals/regexp
from . import relational3  # noqa: E402,F401  Tier B: NULL semantics/division/gaps/frame emulation
from . import functions   # noqa: E402,F401  Tier B: scalar function packs + UDF/approx
from . import extensions  # noqa: E402,F401  Tier C: dedup/similarity/text/multimodal/streaming
from . import parity      # noqa: E402,F401  Tier A: excel scan/load/display/csv golden parity
from . import roundtrip   # noqa: E402,F401  Tier A sinks widened: sqlite/csv/jsonl round trips
from . import tpch        # noqa: E402,F401  Tier B: TPC-H-derived warehouse suite
from . import pipeline    # noqa: E402,F401  Tier C: training-data pipeline composites
from . import warehouse2  # noqa: E402,F401  Tier B/C: basket/markov/interp/pareto/MAD
from . import events_graph  # noqa: E402,F401  Tier C: rolling anomaly/inter-arrival/pagerank
from . import warehouse3  # noqa: E402,F401  Tier B/C: growth/concurrency/rolling median
from . import operational  # noqa: E402,F401  Tier B/C: CDC merge/WAU/attribution
from . import stats_tests  # noqa: E402,F401  Tier B/C: welch-t/chi2/regr_*/path mining
from . import warehouse4  # noqa: E402,F401  Tier B/C: profiling/benford/diff/keyset/rank moves
from . import warehouse5  # noqa: E402,F401  Tier B/C: re-agg/SCD2/cumulative distinct
from . import storage     # noqa: E402,F401  Storage layout: bucketed join, ORC/xlsx round trips
from . import sources_ext  # noqa: E402,F401  XML/binaryFile/text sources + foreachBatch sink
from . import quality     # noqa: E402,F401  DQ expectations/triangles/zorder/reservoir/decontam
from . import tokenizer   # noqa: E402,F401  Tier C: BPE merge training + vocabulary apply
from . import sql_features  # noqa: E402,F401  Spark 4 surface: scripting/params/ps API/DPP
from . import curation     # noqa: E402,F401  Tier C: epoch shuffle/shard pack/mixture/chunk dedup/bloom join
from . import curation2    # noqa: E402,F401  Tier C: split census/source dup matrix/winnowing
from . import similarity2  # noqa: E402,F401  Tier C: product-quantization ANN
from . import curation3    # noqa: E402,F401  Tier C: Gopher rules/DSIR selection/neighbor Jaccard
from . import estimation   # noqa: E402,F401  Tier C: KMV sketch/salted join/BH-FDR/t-closeness/k-core
from . import evalml      # noqa: E402,F401  Tier C: kappa/ECE/capture-recapture/EB shrinkage
from . import mlcls       # noqa: E402,F401  Tier C: naive Bayes/info-gain split/AP/McNemar
from . import stats_assoc  # noqa: E402,F401  Tier C: Cramér's V/moments/randomized response/Friedman
from . import evalml2     # noqa: E402,F401  Tier C: silhouette/HITS/Cohen's d/Brier decomposition
from . import recsys_ts   # noqa: E402,F401  Tier C: i2i covisitation/Krippendorff/PACF/compound index
from . import evalops     # noqa: E402,F401  Tier C: pass@k/overdispersion/SLO burn/Bradley-Terry
from . import warehouse6  # noqa: E402,F401  Tier C: OHLC/runs test/modularity/CV stump
from . import stats_np    # noqa: E402,F401  Tier C: Kruskal-Wallis/CMH/Youden/stream OHLC
from . import evalsurv    # noqa: E402,F401  Tier C: isotonic PAV/log-rank/drawdown/confusion panel
from . import textops2    # noqa: E402,F401  Tier C: ROUGE-N/VaR-CVaR/Little's law/target encoding
from . import seqml       # noqa: E402,F401  Tier C: SPRT/AdaBoost/Bollinger/TOST
from . import infotheory  # noqa: E402,F401  Tier C: entropy rate/KL matrix/RBO/TVD-MI
from . import audit       # noqa: E402,F401  Tier C: median CI/burstiness/Simpson audit/fairness
from . import tsdiag      # noqa: E402,F401  Tier C: Jarque-Bera/Durbin-Watson/Ljung-Box/G-test
from . import pairedstats  # noqa: E402,F401  Tier C: sign test/Wilcoxon signed-rank/Cochran Q/Fleiss kappa
from . import reliability  # noqa: E402,F401  Tier C: Kendall W/Cronbach alpha/ICC/rank-sum AUC
from . import inequality   # noqa: E402,F401  Tier C: Theil/Atkinson indices, Good-Turing, Chao1
from . import extremes     # noqa: E402,F401  Tier C: Gumbel maxima/Hurst R-S/Grubbs/Page-Hinkley
from . import offpolicy    # noqa: E402,F401  Tier C: IPS-SNIPS/bandit replay/catalog coverage/Apdex
from . import textprofile  # noqa: E402,F401  Tier C: syllable census/Yule K/lexical profile/rank turbulence
from . import graphdiag    # noqa: E402,F401  Tier C: local clustering/reciprocity/Dickey-Fuller/Erlang C
from . import rates        # noqa: E402,F401  Tier C: Poisson rate ratio/two-prop z/jackknife SE/Cohen's h
from . import posthoc      # noqa: E402,F401  Tier C: Dunn post-hoc/Nelson-Aalen/Granger/sharp RD
from . import sketchml     # noqa: E402,F401  Tier C: KMV Jaccard/Bloom FPR/linear counting/logistic Newton
from . import regdiag      # noqa: E402,F401  Tier C: Huber M/Cook's distance/ridge path/Breusch-Pagan
from . import structure    # noqa: E402,F401  Tier C: isotropy/power-law alpha/periodogram/multiclass MCC
from . import flowdiag     # noqa: E402,F401  Tier C: stream Apdex/heartbeat gaps/rolling beta/Shapley MTA
from . import curaudit     # noqa: E402,F401  Tier C: source novelty/dedup length bias/CCF/Hodges-Lehmann
from . import spectra      # noqa: E402,F401  Tier C: variance spectrum/depth-2 CART/AR halflife/rich club
from . import qualpanel    # noqa: E402,F401  Tier C: FD census/time-to-convert/QQ deciles/trimmed mean
from . import finpanel     # noqa: E402,F401  Tier C: e-process/Sharpe-Sortino-Calmar/Fisher index/Yuen t
from . import resample     # noqa: E402,F401  Tier C: block bootstrap/Fisher z/post-stratify/WoE-IV
from . import temporal     # noqa: E402,F401  Tier C: circular Rayleigh/LLR keyness/turning points/DOW-hour grid
from . import metapanel    # noqa: E402,F401  Tier C: DL meta-analysis/Theil decomposition/Fano curve/means panel
from . import opspanel     # noqa: E402,F401  Tier C: learning curve/GB burstiness/top-k coverage/MTBF-MTTR
from . import posthoc2     # noqa: E402,F401  Tier C: Cochran-Armitage/Tukey HSD/cost threshold/design effect
from . import shapepanel   # noqa: E402,F401  Tier C: Lorenz deciles/b-bit minhash/long tail/Bowley-Moors
from . import classic2     # noqa: E402,F401  Tier C: ANCOVA/ARCH LM/split-half reliability/Mood median
from . import finalpanel   # noqa: E402,F401  Tier C: unicity/kernel regression/DAU stickiness/entropy curve
from . import stylo        # noqa: E402,F401  Tier C: Burrows Delta/Page trend/Weibull fit/Heaps law
from . import sweeps       # noqa: E402,F401  Tier C: attribution windows/vote ensemble/2x2 panel/shingle sweep
from . import lastpanel    # noqa: E402,F401  Tier C: Cp-Cpk/Benford 2nd digit/return gaps/weight disparity
from . import ordassoc     # noqa: E402,F401  Tier C: Cliff's delta/GK gamma/Somers D/uncertainty coeff
from . import distdist     # noqa: E402,F401  Tier C: Kuiper/CvM/AD two-sample/Wasserstein-energy
from . import graphlp      # noqa: E402,F401  Tier C: LP score panel/harmonic closeness/Katz3/holdout eval
from . import calib        # noqa: E402,F401  Tier C: Hosmer-Lemeshow/Spiegelhalter z/cal slope/KS separation
from . import geo          # noqa: E402,F401  Tier C: grid radius join/kNN/tile rollup/DBSCAN census
from . import linkage      # noqa: E402,F401  Tier C: blocking/sorted-neighborhood/Fellegi-Sunter/transitive merge
from . import forecast     # noqa: E402,F401  Tier C: Croston-SBA/SB quadrants/pinball eval/tracking signal
from . import graphcomm    # noqa: E402,F401  Tier C: LPA communities/conductance/bipartite projection/core-periphery
from . import mlrobust     # noqa: E402,F401  Tier C: RANSAC line/kNN classify/grid LOF/isolation grid
from . import inventory    # noqa: E402,F401  Tier C: newsvendor/EOQ-safety/arc elasticity/fill rate
from . import flagships2   # noqa: E402,F401  Tier C: manual HLL registers/CEM ATT/BLEU counts/ERR cascade
from . import dataops      # noqa: E402,F401  Tier C: compaction plan/partition skew/incremental plan/bloom sizing
from . import streamops    # noqa: E402,F401  Tier C: streaming HLL registers + skew monitor twins
from . import curation4    # noqa: E402,F401  Tier C: SemDeDup/cluster balance/kNN density
from . import marketing    # noqa: E402,F401  Tier C: adstock/Hill saturation/reach-frequency/halo lift
from . import actuarial    # noqa: E402,F401  Tier C: chain ladder/frequency-severity/earned exposure
from . import epi          # noqa: E402,F401  Tier C: standardized rates/funnel plot/empirical BTYD/Erlang B
from . import featurestore  # noqa: E402,F401  Tier C: PIT join/leakage audit/freshness/train-serve skew
from . import experiments  # noqa: E402,F401  Tier C: switchback/cluster-randomized/sequential OBF
from . import encoding     # noqa: E402,F401  Tier C: RLE runs/dict advisor/delta bitwidth/sort gain
from . import search2      # noqa: E402,F401  Tier C: Rocchio PRF/phrase minspan/spell suggest
from . import finreport    # noqa: E402,F401  Tier C: 4-4-5 rollup/to-date triple/margin waterfall/PVM bridge
from . import process      # noqa: E402,F401  Tier C: trace variants/conformance/bottlenecks/rework
from . import multivar     # noqa: E402,F401  Tier C: Mahalanobis2/empirical copula/PCA2 closed form/partial corr
from . import security     # noqa: E402,F401  Tier C: impossible travel/bruteforce windows/rare combos
from . import simreplay    # noqa: E402,F401  Tier C: token-bucket + Lindley discrete-event replays
from . import profiling2   # noqa: E402,F401  Tier C: inclusion deps/key discovery/format masks/orphan audit
from . import geo2         # noqa: E402,F401  Tier C: OD matrix/Voronoi catchments/nearest-facility deciles
from . import spc          # noqa: E402,F401  Tier C: p-chart/X-bar-R/Western-Electric run rules
from . import custdyn      # noqa: E402,F401  Tier C: segment migration/month streaks/interpurchase gaps
from . import uplift       # noqa: E402,F401  Tier C: uplift-by-decile + Qini curve points
from . import iterpanel    # noqa: E402,F401  Tier C: IPF raking/GESD rounds/k-truss peeling
from . import forecastfold  # noqa: E402,F401  Tier C: SES grid/Holt replay/segmented SES folds

# The round driver verifies the FIRST 50 registry keys (iteration order);
# everything else only gets the local tools/check.py run. Round-10 window
# (VERDICT r9 #1: 281 keys still had no driver CORRECTNESS row after r9
# — stats 84, text 28, ts 20 named as the pools to drain, with an
# explicit "stats supermajority: target >=30 stats keys plus text and
# ts for the rest"). This window is zero-overlap with r1–r9 and gives
# Round-11 window — stats 27 slots (majority, per the rotation
# directive: stats is 54 of the 231 never-sampled keys), text 11,
# ts 6, events 3, eval 3; zero overlap with every r1–r10 window
# (verified by set intersection against CORRECTNESS_r*.json before
# commit). Risk-ranked within each family: stats leads with the
# resampling/CI machinery (BH-FDR step-up, permutation nulls,
# bootstrap percentile vs jackknife SE, Wilson vs order-statistic
# median CIs, delta-method ratio variance), then the causal panel
# (IPW/AIPW ATE weighting, diff-in-diff interaction, sharp RD fits,
# TOST equivalence bounds, Yuen trimmed t, Fisher z), then the
# categorical-association block (McNemar discordant pairs, CMH
# strata pooling, Cochran Q/Armitage trend, G-test, Cramér's V,
# TVD independence, uncertainty coefficient) and the reliability
# suite (Kendall W, Cronbach alpha, ICC, split-half, EB shrinkage).
# text spends its 11 on the corpus-census contracts (langid
# confusion, n-gram overlap, IDF, repetition/entropy, keyword
# extraction + search, perplexity buckets, burstiness, lexical
# profile, top-k coverage). ts takes the indicator/replay panel
# (baseline forecast eval, seasonality strength, OHLC, Bollinger,
# intermittency classes, tracking signal); events and eval fill
# with state compaction, bot heuristics, DAU stickiness,
# calibration slope, KS separation, fairness audit. Every key here
# passed the three committed full sweeps (CHECK_r10.log sf0.01,
# CHECK_r10_sf01.log sf0.1, RUN_SF1J_r10.log jittered sf1).
# Rounds 2–10 drove the relational surface, TPC-H, functions,
# streaming, eval/graph/events/ml contracts, and the LLM-pipeline
# flagships green; they follow in registration order and stay
# covered by the local gate.
_PRIORITY: tuple[str, ...] = (
    # ---- stats (27): resampling/CI, causal, association, reliability
    "stats_fdr_bh", "stats_permutation_test", "stats_bootstrap_ci",
    "stats_jackknife_se", "stats_wilson_ci", "stats_median_ci",
    "stats_delta_method_ratio", "stats_ipw_ate", "stats_aipw_ate",
    "stats_diff_in_diff", "stats_reg_discontinuity", "stats_tost",
    "stats_yuen_t", "stats_fisher_z_test", "stats_mcnemar",
    "stats_cmh_test", "stats_cochran_q", "stats_cochran_armitage",
    "stats_g_test", "stats_cramers_v", "stats_tvd_independence",
    "stats_uncertainty_coeff", "stats_kendall_w",
    "stats_cronbach_alpha", "stats_icc",
    "stats_split_half_reliability", "stats_eb_shrinkage",
    # ---- text (11): corpus-census contracts
    "text_langid_eval", "text_ngram_overlap", "text_idf",
    "text_repetition", "text_keywords", "text_entropy",
    "text_keyword_search", "text_perplexity_buckets",
    "text_burstiness", "text_lexical_profile", "text_topk_coverage",
    # ---- ts (6): indicator / replay panel
    "ts_forecast_baseline_eval", "ts_seasonality_strength",
    "ts_ohlc_candles", "ts_bollinger", "ts_intermittency_classes",
    "ts_tracking_signal",
    # ---- events (3) + eval (3)
    "events_latest_state", "events_bot_heuristics",
    "events_dau_stickiness", "eval_calibration_slope",
    "eval_ks_separation", "eval_fairness_audit",
)


# Round-11+ rotation pool: ~231 keys still have no driver CORRECTNESS
# row after the round-10 window above. Largest remaining pools:
# stats (54 unsampled), text (16), ts (12), eval (10), events (10),
# sample (9), embedding (8), graph (8), stream (7), plus
# dedup/similarity/ml/pipeline (5 each) and the 1-4-key long tail.
# Regenerate the exact list with:
#   python -c "import json,glob,__spark_entry__ as E; s=set();
#     [s.update(json.load(open(p))) for p in glob.glob('CORRECTNESS_r*.json')];
#     print([k for k in E.queries() if k not in s])"
# minus the next round's window. Keep rotating ~50/round, risk-ranked:
# the remaining stats panels first (largest pool), then the
# eval/events/sample/embedding/graph/stream tails.


def _front_load(priority: tuple[str, ...]) -> None:
    missing = [k for k in priority if k not in REGISTRY]
    if missing:
        raise RuntimeError(f"priority keys not registered: {missing}")
    ordered = {k: REGISTRY[k] for k in priority}
    ordered.update((k, v) for k, v in REGISTRY.items() if k not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_front_load(_PRIORITY)

__all__ = [
    "REGISTRY",
    "QuerySpec",
    "query",
    "oracle_sqls",
    "relational",
]
