"""The engine's query suite — one entry per operator in SURVEY.md §2
plus the north-star extension surface (text/dedup/similarity/
multimodal/streaming).

Each query is a ``(spark, sf_dir) -> DataFrame`` callable with a
DuckDB-SQL oracle string whose column names and value semantics match
exactly (the driver hash-compares sorted results). Queries without an
oracle (approximate / non-SQL-expressible operators) get a rows-only
check.

Ordering: the driver certifies only the first 50 entries per round, so
the dict is explicitly ordered to rotate un-certified entries into that
window. Round 1 certified the relational/timeseries/text head; round 2
the TPC-H tail + dedup/ANN/multimodal family; round 4 presents every
remaining never-certified entry (sources/sinks, LLM-pipeline tail,
UDAF, plan-IR serde, the fixed ``windows2`` wave, the new registry-UDF
batch twin, and ``approx_aggs`` as an explicit rows-only row), filled
out with the oldest (round-1) certifications.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from datafusion_archive_spark.operators.util import release_caches
from datafusion_archive_spark.queries import (
    aggregates2,
    llm,
    nested,
    pipeline,
    pipeline2,
    pipeline3,
    pipeline4,
    pipeline5,
    pipeline6,
    pipeline7,
    pipeline8,
    pipeline9,
    pipeline10,
    pipeline11,
    pipeline12,
    pipeline13,
    pipeline14,
    pipeline15,
    pipeline16,
    pipeline17,
    pipeline18,
    pipeline19,
    pipeline20,
    pipeline21,
    pipeline22,
    pipeline23,
    pipeline24,
    pipeline25,
    pipeline26,
    pipeline27,
    pipeline28,
    pipeline29,
    pipeline30,
    pipeline31,
    pipeline32,
    pipeline33,
    pipeline34,
    pipeline35,
    pipeline36,
    pipeline37,
    pipeline38,
    pipeline39,
    pipeline40,
    pipeline41,
    pipeline42,
    pipeline43,
    pipeline44,
    pipeline45,
    pipeline46,
    pipeline47,
    pipeline48,
    pipeline49,
    pipeline50,
    pipeline51,
    pipeline52,
    pipeline53,
    pipeline54,
    pipeline55,
    pipeline56,
    pipeline57,
    pipeline58,
    pipeline59,
    pipeline60,
    pipeline61,
    pipeline62,
    pipeline63,
    pipeline64,
    pipeline65,
    pipeline66,
    pipeline67,
    pipeline68,
    pipeline69,
    pipeline70,
    pipeline71,
    registry_udf,
    relational,
    sources_io,
    sql2,
    timeseries,
    tpch_more,
    tpch_more2,
    tpch_more3,
    windows2,
)

#: Every query module. tests/test_registration.py asserts this tuple
#: stays in sync with the modules on disk (a module with a QUERIES
#: dict that is missing here is dead code — the round-3 failure mode).
QUERY_MODULES = (
    relational,
    timeseries,
    llm,
    nested,
    tpch_more,
    tpch_more2,
    tpch_more3,
    aggregates2,
    pipeline,
    sources_io,
    windows2,
    registry_udf,
    pipeline2,
    pipeline3,
    pipeline4,
    pipeline5,
    pipeline6,
    pipeline7,
    pipeline8,
    pipeline9,
    pipeline10,
    pipeline11,
    pipeline12,
    pipeline13,
    pipeline14,
    pipeline15,
    pipeline16,
    pipeline17,
    pipeline18,
    pipeline19,
    pipeline20,
    pipeline21,
    pipeline22,
    pipeline23,
    pipeline24,
    pipeline25,
    pipeline26,
    pipeline27,
    pipeline28,
    pipeline29,
    pipeline30,
    pipeline31,
    pipeline32,
    pipeline33,
    pipeline34,
    pipeline35,
    pipeline36,
    pipeline37,
    pipeline38,
    pipeline39,
    pipeline40,
    pipeline41,
    pipeline42,
    pipeline43,
    pipeline44,
    pipeline45,
    pipeline46,
    pipeline47,
    pipeline48,
    pipeline49,
    pipeline50,
    pipeline51,
    pipeline52,
    pipeline53,
    pipeline54,
    pipeline55,
    pipeline56,
    pipeline57,
    pipeline58,
    pipeline59,
    pipeline60,
    pipeline61,
    pipeline62,
    pipeline63,
    pipeline64,
    pipeline65,
    pipeline66,
    pipeline67,
    pipeline68,
    pipeline69,
    pipeline70,
    pipeline71,
    sql2,
)

_ALL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

for mod in QUERY_MODULES:
    _ALL_QUERIES.update(mod.QUERIES)
    ORACLES.update(mod.ORACLES)

#: Queries intentionally WITHOUT a DuckDB oracle (the driver records a
#: rows-only check). Every _ALL_QUERIES key must be here or in ORACLES
#: — tests/test_registration.py enforces it.
#:
#: EMPTY since round 11b: all 342 registered queries now carry exact
#: DuckDB oracles. The last three holdouts graduated in round 11:
#: bpe_encode_tokens / bpe_merges (the 8-merge trainer unrolled as CTE
#: stages — pipeline4._bpe_trainer_ctes) and approx_aggs (the sketch
#: values are engine-specific, but the DOCUMENTED error bounds are
#: exactly checkable — the query emits deterministic within-bounds
#: flags plus the exact distinct count, and the oracle asserts them;
#: tests/test_approx_bounds.py still pins the raw sketch error
#: independently).
ROWS_ONLY: set[str] = set()

#: The certification window (driver checks entries [:50]).
#: Policy: a query with NO driver row ever is weaker evidence than one
#: whose row is merely old, so never-certified names outrank
#: re-certification. After round 5 the registry holds 342 names with
#: 191 ever driver-certified (188 ever green); the round-6 window
#: below drains the never-certified backlog oldest-first, exactly as
#: the round-5 ROUND-6 NOTE scheduled and VERDICT r5 #1 prescribed.
#: The local dtype-strict gate (tools/check_oracle.py) reproduces the
#: driver hash semantics, so out-of-window names are additionally
#: re-proven locally every round (sweep log committed per-round).
_FIRST_50 = [
    # ROUND-16 WINDOW — registry still frozen (VERDICT r5 #1).
    # Recomputed against the full r1..r15 union (CORRECTNESS_r15 is
    # 50/50 green; 342/342 ever-driver-green holds). Class (1)
    # never-certified-exact is EMPTY. Class (2) rewritten-since-row
    # is TWENTY-SEVEN names — the union of (a) the seventeen queries
    # round 15 rewrote that the pre-written ROUND-16 NOTE listed
    # (text kernels, triangle census, dedup_incremental join
    # restriction, minhash semi-join, retrieval shared pass, spread
    # kernels, operator distinct drops) and (b) the fourteen whose
    # machinery THIS round's optimization commits changed after
    # their latest driver row: kmeans_lloyd (mapInArrow rewrite),
    # pca_power_iteration, spearman_rank_corr, percentiles +
    # rfm_segments (stacked quantile searches), bpe_merges +
    # bpe_encode_tokens (trainer job fusion), dedup_incremental +
    # dedup_ngram_jaccard + dedup_containment (side_pred operator
    # kernel + cached shingle frame), dedup_clusters +
    # semantic_dedup_clusters + dbscan_clusters (connected-components
    # observe-fused convergence), graph_pagerank (loop_parts width
    # authority) — in registry order, overlap deduplicated. The
    # remaining 23 are class (3) — oldest rows by latest green round
    # (the round-9 wave), ties by registry order, exactly the
    # pre-written ROUND-16 NOTE's class-(3) prefix.
    "percentiles",
    "text_stats",
    "text_lang_id",
    "text_fingerprint",
    "text_clean",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "decontaminate_ngram_overlap",
    "dedup_editdistance",
    "text_repetition_gopher",
    "dedup_incremental",
    "text_token_entropy",
    "dedup_containment",
    "bpe_merges",
    "bpe_encode_tokens",
    "curation_funnel",
    "semantic_dedup_clusters",
    "graph_triangle_count",
    "graph_pagerank",
    "rfm_segments",
    "minhash_estimate_audit",
    "ngram_novelty_rate",
    "spearman_rank_corr",
    "pca_power_iteration",
    "retrieval_metrics_truncation",
    "dbscan_clusters",
    "kmeans_lloyd",
    "null_predicates",
    "cast_semantics",
    "arithmetic_ops",
    "literals_no_from",
    "sqrt_fn",
    "geo_udt",
    "agg_having",
    "agg_count_distinct_group",
    "agg_rollup",
    "pivot_linestatus",
    "sort_limit_topk",
    "distinct_pairs",
    "join_inner_3way",
    "join_left_outer",
    "join_semi",
    "join_full_outer",
    "cte_scalar_subquery",
    "setop_union",
    "setop_intersect",
    "setop_except",
    "window_running",
    "json_extract",
    "try_cast_nulls",
]


# ROUND-17 NOTE (next certification window): the steady-state
# rotation continues (VERDICT r7 #5 ... r15 #10). Priority
# unchanged: (1) never-certified-exact — EMPTY since r12 (342/342
# ever-driver-green), (2) rewritten-since-row, (3) oldest rows by
# latest green round, ties by registry order. With the round-16
# window certifying every query rewritten in the two optimization
# rounds, class (2) is EMPTY going into round 17 (if round 17
# changes execution machinery, its queries jump ahead — recompute
# against the r{1..16} union before swapping in). Class (3) drains
# the remaining round-9 wave (21 names) then the oldest round-10
# rows (29 names). The exact 50, computed from the
# CORRECTNESS_r{1..15} union with the round-16 window assumed green:
#   string_funcs, date_funcs, case_when, try_divide_nulls,
#   setop_union_all, agg_cube, agg_grouping_sets, in_subquery,
#   window_ntile_dist, quality_quantile_norm, class_rebalance,
#   weighted_median, ks_test_two_sample, gini_customer_spend,
#   mann_whitney_u, auc_roc, weighted_quartiles,
#   sprt_ab_sequential, exponential_fit_gaps, heaps_law_fit,
#   jarque_bera_normality, join_anti, events_time_bucket,
#   events_asof_join, events_range_join, events_multi_rollup,
#   events_distinct_kmv, dedup_exact, dedup_minhash_signatures,
#   dedup_minhash_lsh, dedup_simhash_signatures,
#   dedup_simhash_pairs, ann_bruteforce, embedding_near_dup,
#   ann_lsh, ann_ivf, multimodal_decode, multimodal_frame_sample,
#   array_ops, posexplode_ordinality, struct_access,
#   q4_order_priority, q6_forecast_revenue, q10_returned_items,
#   q12_priority_shipping, q14_promo_effect, q18_large_volume,
#   q19_disjunctive_predicates, window_frames, nulls_ordering
# Subsequent rounds continue the same rotation. The full local sweep
# log (tools/check_oracle.py over every registered query, plus the
# ORACLE_CHECK_VANILLA=1 variant) stays committed per-round as
# tools/oracle_sweep_r{N}.log to keep the locally-green claim
# auditable, alongside the gated registry plan scan
# (tools/plan_scan.py -> tools/plan_scan_r{N}.log: zero cartesian,
# zero build errors, exchanges within the documented iterative-trainer
# ceiling, file scans within the per-query ceiling added in r11), the
# r11-introduced sweep-growth gate (tools/sweep_outliers.py over the
# sf0.01 + sf0.1 logs: per-query growth <= 15x, wall <= 90 s — the
# mechanized form of the audit that caught the dbscan/clark-evans/
# skyline/clamped-scan cliffs) and
# the round-10-introduced CROSS-SCALE sweeps (tools/check_oracle.py at
# sf0.001 and sf0.1 -> tools/oracle_sweep_r{N}_sf{0001,01}.log — the
# sf0.01 gate cannot see scale-dependent divergence; both r10 catches
# came from these).

def _wrap(fn):
    """Release the previous query's operator-internal caches before
    building the next one — by the time a new query callable runs, the
    prior result has been consumed (collected/written), so its cached
    intermediates are dead weight in a long driver/bench session."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_caches()
        # certified builds must use the engine-portable hash family:
        # a query built inside use_hash("xxhash64") would bake
        # non-oracle-reproducible fingerprints into its plan
        from datafusion_archive_spark.functions import text as _text

        if _text.HASH_METHOD != "md5":
            raise RuntimeError(
                "certified queries must not be built inside "
                f"use_hash({_text.HASH_METHOD!r})"
            )
        return fn(spark, sf_dir)

    run.__name__ = getattr(fn, "__name__", "query")
    run.__doc__ = fn.__doc__
    return run


assert len(_FIRST_50) == 50, len(_FIRST_50)
assert all(name in _ALL_QUERIES for name in _FIRST_50)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: _wrap(_ALL_QUERIES[name]) for name in _FIRST_50
}
for name, fn in _ALL_QUERIES.items():
    if name not in QUERIES:
        QUERIES[name] = _wrap(fn)

__all__ = ["QUERIES", "ORACLES"]
