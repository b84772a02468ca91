"""Query registry — the judged surface.

Every entry pairs a Spark implementation (built on pypeln_spark's operator /
relational / extension layers) with the equivalent ANSI SQL that DuckDB runs
on the same parquet files. The driver hash-compares the two at sf0.01
(CORRECTNESS_r{N}.json) — column names are aligned on both sides, and every
order-sensitive float reduction goes through the decimal-cast convention
(pypeln_spark/functions.py) so values are bit-identical across engines.
"""

from .base import REGISTRY, RETIRED, Query, register, tables

# Importing the modules populates REGISTRY in module order; the explicit
# _PRIORITY reorder below then decides the DRIVER-VISIBLE order. The driver
# hash-checks the first 50 registered queries per round, so the front of
# the registry is rotated each round toward the queries with the fewest /
# stalest driver correctness rows (see the rotation note above _PRIORITY).
# ALL registry entries are covered every session by the local DuckDB gate
# (tests/test_correctness_gate.py replays every oracle), and every output
# schema is contract-tested canonicalizer-safe (assert_driver_safe_schema
# inside the gate), so front-loading unusual output types carries no
# blast-radius risk.
from . import pipeline  # noqa: E402,F401
from . import relational  # noqa: E402,F401
from . import curation  # noqa: E402,F401

try:  # later phases; keep imports soft so a broken module never kills entry()
    from . import text  # noqa: F401
except ImportError:  # pragma: no cover
    pass
try:
    from . import dedup  # noqa: F401
except ImportError:  # pragma: no cover
    pass
try:
    from . import similarity  # noqa: F401
except ImportError:  # pragma: no cover
    pass
from . import relational2  # noqa: E402,F401
from . import relational3  # noqa: E402,F401
from . import relational4  # noqa: E402,F401
from . import variant  # noqa: E402,F401
from . import quality  # noqa: E402,F401

try:
    from . import streaming  # noqa: F401
except ImportError:  # pragma: no cover
    pass

# Driver-visible order: names listed here register first (in this order);
# everything else follows in original module order. Unknown names are
# ignored so a renamed query can't break import.
#
# Rotation — EXACTLY 50 names (driver samples 50; invariants pinned by
# tests/test_correctness_gate.py::test_driver_window_rotation_invariants:
# window size, no duplicates, front-of-registry equality,
# never-driver-checked entries inside the window, and the two-phase
# 5-round-cycle freshness rule). The list is the verbatim output of
# `python tools/rotate_registry.py`: the stalest driver-green entries
# first (the 16 r9-cohort entries, variant_nested_event_doc onward),
# then the r10 cohort in registry order. ALL registry entries PLUS the
# r13-retired four stay covered every session by the local DuckDB gate
# (tests/test_correctness_gate.py replays every oracle in
# REGISTRY ∪ RETIRED).
#
# RETIREMENT POLICY (VERDICT r11 #6 — written before the 250-entry
# rotation-capacity wall, ~r17 at 2 debuts/round). An entry may be
# RETIRED when BOTH hold: (1) it is documented SUPERSEDED by a strictly
# more general entry that exercises the same code path with equal or
# stronger oracle coverage (e.g. 32-bit `dedup_simhash_near_pairs_wide`
# vs the 60-bit x 4-table `dedup_simhash_near_pairs_wide60`), or it is
# a scaffolding variant whose only delta is a parameter another entry
# now sweeps; and (2) its implementation stays covered by at least one
# pytest (retirement removes the REGISTRY row + its _PRIORITY
# eligibility, never the code or its unit tests). Mechanics (first
# executed r13, VERDICT r12 #6): pass `retired_by="<superseding name>"`
# to register() — the Query object then lands in base.RETIRED instead
# of REGISTRY (PYPELN_SPARK_RETIRED=1 re-registers), the local gate and
# plan lint keep covering REGISTRY ∪ RETIRED, and the retirement is
# recorded (name, superseding entry, round, rationale) in COVERAGE.md's
# Retired table; the rotation test ignores names absent from REGISTRY,
# so retired entries simply stop consuming window slots — their
# historical CORRECTNESS rows remain valid evidence. Retire at most
# ~5/round so the driver diff stays reviewable. After the r13 four
# (dedup_simhash_near_pairs_wide, ann_recall_eval_ivf,
# dedup_minhash_lsh, curation_e2e_pretrain_pack): 214 live entries +
# ~2 debuts/round vs 50x5=250 — headroom through ~r19.
_PRIORITY = [
    "variant_nested_event_doc",  # green r9
    "variant_props_rollup",  # green r9
    "streaming_variant_props_rollup",  # green r9
    "quality_expectations_lineitem",  # green r9
    "quality_profile_orders",  # green r9
    "ivm_orders_priority_merge",  # green r9
    "quality_table_diff_orders",  # green r9
    "events_value_anomalies",  # green r9
    "events_rolling_24h_stats",  # green r9
    "histogram_equi_depth_by_type",  # green r9
    "bloom_pruned_join_revenue",  # green r9
    "zorder_layout_events",  # green r9
    "graph_triangles_part_cooccurrence",  # green r9
    "streaming_funnel_stages",  # green r9
    "asof_join_with_tolerance",  # green r9
    "streaming_interval_left_join",  # green r9
    "pipeline_each_audit_count",  # green r10
    "pipeline_to_iterable_roundtrip",  # green r10
    "q1_pricing_summary",  # green r10
    "q6_revenue_delta",  # green r10
    "agg_nation_customer_stats",  # green r10
    "groupby_having_hot_parts",  # green r10
    "count_distinct_parts_by_brand",  # green r10
    "q3_shipping_priority",  # green r10
    "q5_local_supplier_volume",  # green r10
    "semi_join_auto_orders",  # green r10
    "anti_join_idle_customers",  # green r10
    "window_top3_orders_per_customer",  # green r10
    "window_running_customer_spend",  # green r10
    "window_lag_order_gap_days",  # green r10
    "top_k_expensive_parts",  # green r10
    "set_intersect_nations",  # green r10
    "set_except_nations",  # green r10
    "dedup_lsh_hot_bucket_star",  # green r10
    "dedup_simhash_near_pairs60",  # green r10
    "array_function_gauntlet",  # green r10
    "unpivot_order_status_counts",  # green r10
    "manual_median_price_by_priority",  # green r10
    "cheapest_item_supplier_per_part",  # green r10
    "nation_pair_trade_volume",  # green r10
    "not_in_parts_never_shipped",  # green r10
    "window_navigation_gauntlet",  # green r10
    "listagg_region_nations",  # green r10
    "stats_moments_by_event_type",  # green r10
    "skew_salted_event_totals",  # green r10
    "sketch_quantile_global_histogram",  # green r10
    "bucketed_join_priority_revenue",  # green r10
    "events_transition_matrix",  # green r10
    "sketch_kmv_overlap_users",  # green r10
    "q13_customer_order_distribution",  # green r10
]


def _reorder() -> None:
    ordered = {n: REGISTRY[n] for n in _PRIORITY if n in REGISTRY}
    for n, q in REGISTRY.items():
        if n not in ordered:
            ordered[n] = q
    # preserve object identity — other modules hold references to REGISTRY
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder()

__all__ = ["REGISTRY", "RETIRED", "Query", "register", "tables"]
