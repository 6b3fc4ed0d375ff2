"""Query catalog — the engine's public demonstration surface AND the
correctness contract: the driver runs each ``QUERIES[name](spark,
sf_dir)`` against ``ORACLE[name]`` (DuckDB, same parquet) and
hash-matches values with columns sorted by name.

r06 (VERDICT r05 #6): the 6.1k-line monolith is split into per-family
modules under ``openetl_spark/queries/`` — importing THIS module loads
them in the original registration order, so ``QUERIES``/``ORACLE``
iteration order, every query name, and every oracle rendering are
byte-identical to the pre-split catalog. This module remains the only
import surface (``from openetl_spark import catalog``); the family
modules are implementation layout.

Families: queries/relational (A-series, C1-C25), queries/dedup_text
(C26-C29 + shared jaccard/simhash oracle fragments),
queries/relational_extra (B-series, TPC-H depth, IVF layout),
queries/curation (r04 curation), queries/tpch_r05, queries/
warehouse_ann (PQ/declarative/warehouse), queries/lm_dedup (LM stats,
eval harnesses, incremental/semantic dedup), queries/media_mining
(r06 multimodal mining). Shared kernel (registries, @query, load):
queries/base.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from openetl_spark.queries.base import (  # noqa: F401
    ORACLE,
    QUERIES,
    load,
    query,
)

# Importing the family modules REGISTERS their queries; the import
# order below IS the pre-split registration order (dicts preserve it).
from openetl_spark.queries import relational as _relational  # noqa: F401,E402
from openetl_spark.queries import dedup_text as _dedup_text  # noqa: F401,E402
from openetl_spark.queries import relational_extra as _relational_extra  # noqa: F401,E402
from openetl_spark.queries import curation as _curation  # noqa: F401,E402
from openetl_spark.queries import tpch_r05 as _tpch_r05  # noqa: F401,E402
from openetl_spark.queries import warehouse_ann as _warehouse_ann  # noqa: F401,E402
from openetl_spark.queries import lm_dedup as _lm_dedup  # noqa: F401,E402
from openetl_spark.queries import media_mining as _media_mining  # noqa: F401,E402
from openetl_spark.queries import analytics_r06 as _analytics_r06  # noqa: F401,E402
from openetl_spark.queries import analytics_r07 as _analytics_r07  # noqa: F401,E402
from openetl_spark.queries import analytics_r08 as _analytics_r08  # noqa: F401,E402
from openetl_spark.queries import analytics_r09 as _analytics_r09  # noqa: F401,E402
from openetl_spark.queries import analytics_r10 as _analytics_r10  # noqa: F401,E402
from openetl_spark.queries import analytics_r11 as _analytics_r11  # noqa: F401,E402
from openetl_spark.queries import analytics_r12 as _analytics_r12  # noqa: F401,E402

# Re-exports referenced by tests / bench / external callers as
# catalog.<name> (the pre-split public surface).
from openetl_spark.queries.dedup_text import (  # noqa: F401,E402
    jaccard_ctes,
    shingle_cte,
)
from openetl_spark.queries.relational_extra import (  # noqa: F401,E402
    IVF_ORACLE_CENTROIDS,
    IVF_SIG_SQL,
    _corpus_sig,
    _ivf_layout,
)
from openetl_spark.queries.warehouse_ann import (  # noqa: F401,E402
    PQ_ORACLE_CODEBOOKS,
    _ivf_pq_layout,
    _pq_codebooks,
)
from openetl_spark.queries.lm_dedup import (  # noqa: F401,E402
    domain_mix_oracle,
    incremental_dedup_oracle,
    semantic_dedup_oracle,
    winnow_oracle,
)
from openetl_spark.queries.media_mining import (  # noqa: F401,E402
    MEDIA_FP_DIR,
    _media_fp_layout,
)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver smoke query: the regional-revenue star join."""
    return QUERIES["q5_regional_revenue"](spark, sf_dir)


# ---------------------------------------------------------------------
# Driver-facing ordering. The correctness gate checks the first 50
# entries of queries() in iteration order. Round-12 rotation (VERDICT
# r11 #1, staleness burn-down): CORRECTNESS_r11 re-greened all 50 of
# its window (incl. all eight r11 rechecks — pruned). Slots go first
# to the THREE new r12 queries (no driver row anywhere), then the
# FIVE DRIVER_RECHECK entries, then the COMPLETE 10-entry r06-latest
# tail queue, then the first 26 of the 46 r07-latest rows
# alphabetically — exactly 50; the 14 displaced r07 tails are the r13
# queue head. After this round's driver run nothing anywhere is
# r06-latest.
# Every query, windowed or not, is re-pinned every pytest run by
# tests/test_oracle.py, which mirrors the driver's compare exactly.
# ---------------------------------------------------------------------

# Queries whose CODE or ORACLE changed after their last driver-green
# row — they hold window slots even though a (stale) green row exists,
# and the window-integrity test exempts them from its "wasted slot"
# check. Prune entries from this set once the next CORRECTNESS record
# re-greens them.
DRIVER_RECHECK: set[str] = {
    # r12 (all 8 r11 entries re-greened in CORRECTNESS_r11 — pruned):
    # the two pair-grain σ queries moved to the FULL-graph substrate
    # (code + oracle changed — the w≥2 core vacuated them at sf0.1):
    "landmark_stress",
    "landmark_betweenness",
    # plans changed: the vocabulary broadcasts are now conditional
    # (VERDICT r11 #2 — broadcast_if_small):
    "association_rules",
    "node2vec_training_pairs",
    # oracle changed: the 128-bit ARI overflow guard is mirrored via
    # error() (ADVICE r11):
    "cluster_agreement_report",
}

DRIVER_PRIORITY: list[str] = [
    # --- r12 additions (no driver row yet) ---
    "betweenness_report",
    "cluster_nmi_report",
    "association_rules_k3",
    "markov_attribution",
    "dp_event_counts",
    "ewma_user_values",
    "cusum_alerts",
    "textrank_keywords",
    "holt_user_values",
    # --- changed since their last driver row (DRIVER_RECHECK) ---
    "landmark_stress",
    "landmark_betweenness",
    "association_rules",
    "node2vec_training_pairs",
    "cluster_agreement_report",
    # --- the 10 r06-latest tails (the complete remaining r06 queue —
    # after this window nothing anywhere is r06-latest) ---
    "session_windows",
    "set_except",
    "simhash_dedup",
    "skyline_parts",
    "sliding_counts",
    "sql_passthrough",
    "string_funcs",
    "text_stats",
    "time_weighted_avg",
    "tumbling_hourly",
    # --- the r07-latest burn-down queue (46 rows, alphabetical — the
    # first 26 fit this window; the remaining 20 are the r13 queue
    # head) ---
    "array_funcs_extended",
    "attribution_last_touch",
    "bloom_decontaminate",
    "date_funcs_extended",
    "decimal_agg",
    "decontaminate_ngram",
    "edit_distance",
    "edit_similarity_pairs",
    "embedding_near_dup_exact",
    "filtered_agg",
    "hll_cells",
    "hll_distinct_report",
    "join_full_outer",
    "join_right",
    "json_funcs",
    "lang_id_oracle",
    "map_funcs",
    "null_safe_join",
    "percentile_exact",
    "pii_redaction",
    "pivot_dynamic",
    "q10_returned_items",
    "q12_shipping_delay",
    "q13_order_distribution",
    "q14_promo_share",
    "q15_top_supplier",
    # r13 queue, in order: the 20 displaced r07 tails
    # (q16_supplier_cnt, q17_small_quantity, q18_large_orders, q19_discounted_revenue, q21_waiting_supplier, q2_min_cost_supplier, q4_order_priority, q6_forecast_revenue, q7_volume_shipping,
    # q8_market_share, q9_product_profit, rarity_score,
    # regression_aggs, repetition_stats, set_intersect, set_union,
    # string_funcs_extended, union_all_counts, variant_funcs,
    # window_ranking_extras), then r08-latest alphabetically. All
    # locally re-pinned every pytest run.
]


def ordered_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """QUERIES with DRIVER_PRIORITY names first, then the rest in
    registration order."""
    out = {n: QUERIES[n] for n in DRIVER_PRIORITY if n in QUERIES}
    out.update({n: f for n, f in QUERIES.items() if n not in out})
    return out


def ordered_oracle() -> dict[str, str]:
    """ORACLE in the same iteration order as ordered_queries()."""
    q = ordered_queries()
    return {n: ORACLE[n] for n in q if n in ORACLE}
