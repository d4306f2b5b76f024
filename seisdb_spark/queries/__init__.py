"""Driver-facing query registry.

Importing this package registers every query module, so ``REGISTRY`` holds
one entry per operator: a Spark callable and, where SQL-expressible, its
DuckDB oracle twin.  The driver hash-checks the FIRST 50 registry entries
at sf0.01, so the registry is reordered to lead with ``DRIVER_WINDOW``.
Window policy (``tests/test_driver_window.py`` enforces the first and last):
* 50 registered names, with the flagship ``sgt_flagship_encode`` and one
  member of every core operator family;
* a new oracle-bearing query rotates in; a query leaves after three green
  driver rounds, with its family still represented in the window;
* the recorded windows (``CORRECTNESS_r*.json``) plus this one cover every
  oracle-bearing query.  ``tests/test_oracle_parity.py`` checks every query,
  in the window or not; past rotations are in git history and VERDICT.md.
"""

from seisdb_spark.queries.registry import REGISTRY, QuerySpec

# Register all query modules (import side effects fill REGISTRY).
from seisdb_spark.queries import relational  # noqa: F401,E402
from seisdb_spark.queries import arrays  # noqa: F401,E402
from seisdb_spark.queries import extensions  # noqa: F401,E402
from seisdb_spark.queries import vector_store  # noqa: F401,E402
from seisdb_spark.queries import temporal  # noqa: F401,E402
from seisdb_spark.queries import graph_queries  # noqa: F401,E402

# streaming_queries last: its twins share batch oracles registered above
# (the CDC twin reuses temporal's snapshot SQL the same way the SCD2 twin
# reuses relational's).
from seisdb_spark.queries import streaming_queries  # noqa: F401,E402

#: The 50 queries the driver must hash-check, in priority order.
DRIVER_WINDOW: list[str] = [
    "streaming_triangle_counts",
    "graph_wcc_membership",
    "above_segment_avg_customers",
    "graph_bfs_hops",
    "heavy_hitters_gate",
    "graph_sssp_cost",
    "except_parts_never_shipped",
    "streaming_wcc_membership",
    "doc_repetition_stats",
    "streaming_zone_maps",
    "grouping_sets_orders",
    "intersect_repeat_customers",
    "hist_quantile_rollup",
    "streaming_lm_score",
    "streaming_cm_rollup",
    "funnel_conversion_steps",
    "streaming_cdc_apply",
    "streaming_hll_rollup",
    "multimodal_header_fields",
    "graph_kcore_membership",
    "lateral_explode_words",
    "cohort_retention",
    "pii_scan_counts",
    "pivot_status_counts",
    "streaming_scd2_build",
    "pointintime_balance_lookup",
    "range_join_value_bands",
    "streaming_topk_rollup",
    "embedding_dim_quantiles",
    "streaming_weighted_sample",
    "median_acctbal_by_segment",
    "streaming_kmv_rollup",
    "ngram_lm_perplexity",
    "timeseries_gapfill",
    "scd2_history_build",
    "sliding_window_counts",
    "streaming_lm_train",
    "unpivot_part_metrics",
    "p1_positional_projection",
    "j1_gather_join",
    "d1_first_occurrence_dedup",
    "a1a2_group_normalize",
    "r1_array_assembly",
    "streaming_ohlc_bars",
    "l2_element_reorder",
    "sgt_flagship_encode",
    "anomaly_trailing_zscore",
    "except_all_priorities",
    "event_transition_matrix",
    "bpe_token_estimate",
]


def _reorder_registry() -> None:
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    if missing:  # fail loudly at import: a typo here silently wastes a slot
        raise RuntimeError(f"DRIVER_WINDOW names not in REGISTRY: {missing}")
    ordered = {n: REGISTRY[n] for n in DRIVER_WINDOW}
    ordered.update((n, s) for n, s in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry()

__all__ = ["REGISTRY", "QuerySpec", "DRIVER_WINDOW"]
