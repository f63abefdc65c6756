"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``alpaca_pyspark_spark/queries/``; this module
is a thin adapter.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from alpaca_pyspark_spark.queries import ORACLE, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: OHLCV bar construction (the reference's core
    analytic semantic, SURVEY.md §2D D5) on sf0.001."""
    return QUERIES["q02_bars_tumbling"](spark, "/root/testdata/sf0.001")


#: The driver's correctness pass samples a fixed-size prefix of this
#: dict, so the first entries are a curated cross-section — one or
#: more oracle-paired representatives of EVERY query family (core
#: connector semantics, LLM dedup/similarity, text curation,
#: sampling, search/graph, mining, TPC-H shapes, advanced analytics,
#: warehouse, multimodal) — rather than insertion order, which front-
#: loaded the core module and left later families driver-unchecked.
#: The full registry is unchanged; only the ordering is curated.
_SHOWCASE_ORDER = [
    # ROUND 13: the debt-zero re-validation cadence, second cycle
    # (ROTATION.md "Round-12+" section; applied block at the bottom of
    # that file).  T0 = canaries + connector loop + core continuity +
    # every query whose code path changed since its last driver grade
    # (rule a): the r12 curation/stop-word rewrites that were NOT in
    # the r12 sample (q183/q184/q187/q189), the r12 quantile dispatch
    # consumers (q102/q106), the span-prefilter + DSIR-floor work
    # (q186/q114, q191/q197 inherit the dsir dispatch), and the
    # per-key dispatchers rebuilt on operators/dispatch.py (q03, q14,
    # q41/q208, q107, q115).  Rule (c): the round-13-registered forced
    # twin q210.  T1 alternates back to the approximation-dial +
    # incremental half (streaming ran in r12).  T2 = the oldest-grade
    # wheel.  Entries with no oracle (rows-only by design) sit after
    # the 50-entry graded prefix, so every graded slot is hash-checked.
    #
    # T0 — canaries first:
    "q207_plane_sign_parity_canary", "q204_cosine_parity_canary",
    "q203_connector_roundtrip",
    "q01_scan_filter_project", "q02_bars_tumbling", "q06_asof_join",
    # T0 rule-(a) promotions (changed since last grade) + rule-(c) q210:
    "q183_repetition_filter", "q184_stopword_filter",
    "q187_dsir_importance", "q189_curation_pipeline",
    "q191_streaming_curation", "q197_corpus_build",
    "q186_span_dedup_rewrite", "q114_repeated_passages",
    "q210_span_dedup_prefiltered",
    "q102_mad_outliers", "q106_weighted_median",
    "q41_trailing_range_window",
    "q208_trailing_window_prefix_decomposed",
    "q03_interval_join_agg", "q14_stream_session", "q107_session_paths",
    "q115_ignore_nulls_windows",
    # T1 — the approximation-dial + incremental half (streaming block
    # graded r12, resumes r14):
    "q13_embedding_sim_ann", "q13_embedding_sim_ivf_det",
    "q169_incremental_dedup",
    "q198_pq_adc_topk", "q200_ivf_index_maintenance",
    "q201_ivfpq_search", "q202_streaming_pq_search",
    "q202_dialed_pq_search", "q206_cluster_reps_lsh_dialed",
    # T2 — the oldest-grade wheel as ROTATION.md staged it at r12
    # close (q13_ivf_det/q102 appear above, so the wheel continues
    # past them), with the exact twins of the rows-only entries:
    "q47_correlated_subquery", "q12_embedding_dedup",
    "q11_exact_distinct", "q24_percentiles", "q19_ngram_jaccard",
    "q33_near_dup_components",
    "q12_simhash_dedup_portable", "q12_embedding_dedup_lsh",
    "q13_embedding_sim", "q32_corpus_curation",
    "q78_fuzzy_name_pairs", "q79_transition_matrix",
    "q92_cluster_representatives",
    # wheel continuation: lowest-numbered entries whose last grade is
    # oldest (r3/r4 era, none sampled in r11/r12):
    "q04_sort_limit_topk", "q05_groupby_rollup", "q07_adjustment",
    "q10_semi_anti", "q12_exact_dedup",
    # past the graded prefix — no oracle, rows-only by design:
    "q13_embedding_sim_ivf", "q11_approx_distinct",
    "q24_percentiles_approx", "q46_sketch_union_rollup",
    "q12_text_dedup", "q12_simhash_dedup",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, showcase
    cross-section first (see ``_SHOWCASE_ORDER``)."""
    ordered = {k: QUERIES[k] for k in _SHOWCASE_ORDER if k in QUERIES}
    ordered.update({k: v for k, v in QUERIES.items() if k not in ordered})
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query id; ids absent here are
    non-SQL-expressible (driver records a rows-only check)."""
    return dict(ORACLE)
