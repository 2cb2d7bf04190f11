"""Assembles the driver contract: ``queries()`` and ``oracle_sql()``.

Each operator module exposes ``QUERIES`` (name → (spark, sf_dir) -> DataFrame)
and ``ORACLE`` (name → DuckDB SQL). This module merges them and enforces the
invariants the driver's correctness gate depends on:

- no duplicate names across modules;
- every oracle key has a query (queries without an oracle are allowed —
  they get the driver's weaker rows-only check and are listed in
  ``NO_ORACLE`` with a reason).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators import (
    aggregates,
    analytics,
    custom_udf,
    dedup,
    graph,
    incremental,
    joins,
    json_ops,
    layout,
    llm_prep,
    multimodal,
    olap,
    reshape,
    sampling,
    scalars,
    setops,
    similarity,
    sketches,
    sources,
    sql_api,
    text,
    tpch_analytics,
    tpch_partsupp,
)
from .streaming import stateful, stream_windows

QueryFn = Callable[[SparkSession, str], DataFrame]

# Merge order IS the driver's CORRECTNESS sample order (first 50 keys are
# hashed against their DuckDB oracles each round). Round-5 rotation: the
# tail keys never driver-sampled in rounds 1-4 lead (tpch additions,
# sources, sql_dashboard, round-3/4 joins/aggregates additions, and
# analytics' dq_anomaly_zscore — its module dict is ordered to put that
# key first). The brand-new Q2/Q9/Q20 partsupp shapes lead outright; the
# three keys they displace from slot 47-49 (window_distribution_ranks /
# first_last_nth / trailing_range_frame) all have green r4 rows. The
# LLM-pipeline pack got its rows in round 4 and rotates to the tail; olap
# has rows from rounds 1-3.
_MODULES = [
    tpch_partsupp,
    tpch_analytics,
    sources,
    sql_api,
    joins,
    aggregates,
    analytics,
    dedup,
    similarity,
    graph,
    text,
    llm_prep,
    multimodal,
    json_ops,
    setops,
    custom_udf,
    stream_windows,
    reshape,
    scalars,
    sampling,
    sketches,
    olap,
    layout,
    incremental,
    stateful,
]


# The driver samples the FIRST 50 keys of queries() each round; this
# list leads the iteration so module insertion order can't push a key
# that needs a fresh CORRECTNESS row out of the window. Guarded by
# tests/test_registry_contract.py (subset, duplicate-free, leads
# iteration) — prune entries once their round's JSON records them
# (CLAUDE.md rule 7).
_SAMPLE_PRIORITY = [
    # Round-17 rotation: the 50 keys CORRECTNESS_r16.json records (the
    # whole previous list) are pruned. Every registry key now has a driver
    # row, so the window leads with keys whose last row predates a
    # rewrite. First, the keys the r16 optimization rounds rewrote (last
    # driver rows r08-r14, i.e. from before the rewrite):
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_simhash_planted",
    "dedup_minhash_planted",
    "dedup_exact_substring_spans",
    "dedup_levenshtein_blocked",
    "graph_connected_components",
    "graph_kcore_peel",
    "graph_bfs_hops",
    "graph_degree_assortativity",
    "graph_link_prediction_ra",
    "graph_link_prediction_jaccard",
    "graph_hits_scores",
    "graph_pagerank_personalized",
    "events_pattern_match",
    "text_langid_ngram_profile",
    "text_bigram_topk",
    "text_winnow_fingerprint",
    "quality_repetition_signals",
    # the five derived-state keys that answered from pre-write tables
    # until their state was keyed by source content (functions/derived.py;
    # last driver rows r08/r09)
    "scan_partition_pruned",
    "scan_dpp_dim_filter",
    "join_bucketed_zero_shuffle",
    "layout_compact_small_files",
    "scan_schema_evolution",
    # rows-only until now: trained with the deterministic Lloyd's update,
    # hash-checked against the same oracle as its _exact twin
    "sim_search_ann_ivf_kmeans",
    "sim_search_ann_ivf_kmeans_exact",
    # the rest of the derived-state and scratch-path users moved onto
    # functions/derived.py, oldest driver row first
    "stream_tumbling_agg",
    "stream_stream_join",
    "layout_partition_overwrite_dynamic",
    "mv_incremental_refresh",
    "stream_left_outer_join",
    "stream_full_outer_join",
    "stream_sliding_agg",
    "stream_session_window",
    "stream_docs_dedup_fingerprint",
    "stream_upsert_foreach_batch",
    "source_api_stream",
    "sink_python_datasource",
    "stream_dedup_keys",
    "tpch_q8_bucketed",
    "join_cbo_stats_broadcast",
    "sessionize_batch_clustered",
    "events_pattern_match_clustered",
]


def _merge(attr: str) -> dict:
    out: dict = {}
    for mod in _MODULES:
        d = getattr(mod, attr, {})
        dup = set(out) & set(d)
        if dup:
            raise ValueError(f"duplicate registry keys across modules: {dup}")
        out.update(d)
    return out


def queries() -> dict[str, QueryFn]:
    merged = _merge("QUERIES")
    missing = [k for k in _SAMPLE_PRIORITY if k not in merged]
    if missing:
        raise ValueError(f"sample-priority keys not in registry: {missing}")
    out = {k: merged[k] for k in _SAMPLE_PRIORITY}
    out.update(merged)  # remaining keys keep module merge order
    return out


def oracle_sql() -> dict[str, str]:
    oracles = _merge("ORACLE")
    qs = queries()
    missing = set(oracles) - set(qs)
    if missing:
        raise ValueError(f"oracle without a query: {missing}")
    return oracles
