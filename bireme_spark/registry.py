"""Central registry: every implemented operator/query (SURVEY.md §2)
maps a name → (spark_callable, oracle_sql | None).

``__spark_entry__.py`` re-exports this for the driver; tests iterate
it to run the same DuckDB-oracle comparison locally.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}


def _tz_safe(fn: QueryFn) -> QueryFn:
    """Force a UTC session timezone before running a query: the
    driver's SparkSession may default to a local zone, which would
    skew unix_timestamp/year/date math vs the DuckDB oracle's naive
    (UTC) timestamps."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS); honored on PySpark ≤4.0
        # only — 4.1.x reads TIMESTAMP_NTZ regardless and load_table
        # normalizes either shape (see sources/tables.py).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


# Queries that replay a stream or hit an embedded DB — an order of
# magnitude slower than the relational/batch ones. Under a bounded
# driver budget they run after every cheap not-yet-recorded query.
_SLOW = frozenset(
    {
        "streaming_sessionize",
        "streaming_tumbling_window",
        "streaming_sliding_window",
        "streaming_dedup",
        "streaming_cdc_pipeline",
        "streaming_scd2",
        "streaming_stream_join",
        "streaming_stream_join_outer",
        "cdc_multi_table_sync",
        "jdbc_merge_apply",
        "jdbc_incremental_pull",
        "embedding_knn_pagerank",
        "streaming_sketch_rollup",
        "streaming_cep_pattern",
        "streaming_ddsketch_rollup",
    }
)

# Queries first registered in round 5+. Under the driver's bounded
# 50-query budget they must NOT jump ahead of operators that have
# been waiting since earlier rounds for their first CORRECTNESS row
# (VERDICT r4 item 3) — they rank after every other never-recorded
# query, before the already-recorded ones.
_NEW_THIS_ROUND: frozenset[str] = frozenset(
    {
        # (reset at round-10 open: the 35 never-recorded r9
        # continuation operators now rank as plain never-recorded and
        # head round 10's bounded driver gate; the ~15 remaining slots
        # re-confirm the stalest green rows. Round-10 additions below
        # rank after ALL of them so the debt drains to 440/440 first.)
        "events_ddsketch_quantiles",
        "orders_friedman_test",
        "cdc_heartbeat_monitor",
        "events_spectral_entropy",
        "events_wavelet_haar",
        "orders_kalman_level",
        "tokenizer_wordpiece_train",
        "events_cointegration_test",
        "orders_erlang_staffing",
        "graph_scc",
        "cdc_dead_letter_replay",
        "multimodal_hu_moments",
        "lineitem_oaxaca_blinder",
        "graph_effective_diameter",
        "embedding_energy_distance",
        "corpus_rejection_sampling",
        "multimodal_audio_onsets",
        "streaming_ddsketch_rollup",
        "orders_shift_share",
        "lineitem_tukey_hsd",
        "orders_vintage_analysis",
        "nations_meta_analysis",
        "customers_cox_regression",
        "multimodal_blockiness",
        "events_poisson_regression",
        "lineitem_partial_correlation",
        "multimodal_audio_clipping",
        "cdc_slot_retention_forecast",
        "lineitem_heteroskedasticity_bp",
        "corpus_dedup_cluster_sizes",
        "cdc_transaction_size_distribution",
        "lineitem_cusum_of_squares",
        "corpus_context_length_budget",
        "cdc_ordering_violation_detector",
        "orders_price_heaping_audit",
        "multimodal_stereo_balance",
        "cdc_compaction_ratio_report",
        "lineitem_twoway_anova",
        "text_ocr_artifact_screen",
        "orders_wilcoxon_signed_rank",
        "orders_lognormal_fit",
        "text_unicode_hygiene_screen",
        "lineitem_intraclass_correlation",
        "events_harmonic_regression",
        "multimodal_caption_consistency",
        "corpus_source_leakage_matrix",
        "events_bimodality_coefficient",
        "lineitem_taguchi_sn",
        "orders_quantile_treatment_effect",
        "events_pot_gpd_tail",
        "multimodal_av_sync_check",
        "lineitem_fwl_partialled_regression",
        "multimodal_image_palette_audit",
        "corpus_pack_contamination_audit",
        "events_anderson_darling",
        "orders_ljung_box",
        "multimodal_thumbnail_integrity",
        "events_mean_residual_life",
        "corpus_vocab_coverage_curve",
        "orders_durbin_watson",
        "events_jarque_bera",
        "embedding_cka",
        "customers_log_rank_test",
        "events_permutation_entropy",
        "multimodal_aspect_ratio_bucketing",
        "corpus_epoch_repetition_plan",
        "text_mrr_eval",
        "orders_variance_ratio_test",
        "orders_newey_west",
        "graph_bipartite_projection",
        "embedding_label_knn_purity",
        "cdc_batch_coalescing_report",
        "embedding_label_centroid_confusion",
        "orders_median_polish",
        "lineitem_benford_second_digit",
        "events_kde_modes",
        "embedding_sq8_distortion",
        "customers_interpurchase_cv",
        "tokenizer_oov_rate_matrix",
        "nations_correspondence_analysis",
        "cdc_gtid_gap_audit",
        "events_extremal_index",
        "multimodal_image_exposure_audit",
        "lineitem_quantile_regression_profile",
        "dedup_survivor_quality_audit",
        "nations_product_diversity",
        "cdc_dedup_window_advisor",
        "multimodal_audio_dynamic_range",
        "graph_spectral_bisection",
        "embedding_binary_sign_recall",
        "orders_fano_factor_profile",
        "corpus_cluster_aware_split",
        "customers_dormancy_reactivation",
        "orders_gini_yearly_trend",
        "nations_dissimilarity_index",
        "embedding_participation_ratio",
        "orders_diebold_mariano",
        "events_pacf_levinson",
        "graph_random_walk_restart",
        "embedding_hbos_outliers",
        "multimodal_image_sharpness",
        "corpus_sampling_ess_audit",
        "orders_crps_seasonal_eval",
        "cdc_snapshot_chunk_planner",
        "events_cramers_v_matrix",
        "multimodal_loudness_gate",
        "graph_square_count",
        "nations_trade_reciprocity",
        "lineitem_price_volume_bridge",
        "orders_net_revenue_retention",
        "events_greenwood_uniformity",
        "embedding_csls_rerank_eval",
        "orders_trading_day_adjustment",
        "embedding_ood_mahalanobis",
        "multimodal_image_noise_estimate",
        "corpus_chunk_boundary_audit",
        "orders_otif_rate",
        "graph_bowtie_decomposition",
        "events_load_duration_curve",
        "lineitem_shipment_consolidation",
    }
)


def _recorded_rounds(root=None) -> dict[str, int]:
    """name → latest round number whose driver artifact has a green
    row for the query (oracle-green, or rows-only-by-design with
    rows). The artifact is budget-bounded — r01 stopped at exactly 50
    entries — so queries WITHOUT any row must run first to earn one,
    and recorded queries re-run stalest-first for regression cover."""
    import json
    import pathlib
    import re

    last: dict[str, int] = {}
    if root is None:
        root = pathlib.Path(__file__).resolve().parent.parent
    root = pathlib.Path(root)
    for art in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", art.name)
        rnd = int(m.group(1)) if m else 0
        try:
            rows = json.loads(art.read_text())
        except (OSError, ValueError):
            continue
        for n, r in rows.items():
            if not isinstance(r, dict):
                continue
            err = r.get("err")
            if (
                not err
                and r.get("rows_match") is True
                and r.get("schema_match") is True
                and r.get("hash_match") is True
            ):
                green = True  # oracle-green row (all three compares)
            elif err == "no_oracle" and (r.get("spark_rows") or 0) > 0:
                # rows-only-by-design query that produced rows: it IS
                # recorded — re-running it every round would burn gate
                # budget that should re-confirm older oracle queries
                green = True
            else:
                green = False
            if green:
                last[n] = max(last.get(n, 0), rnd)
    return last


def _load() -> None:
    if _QUERIES:
        return
    # Iteration order matters: the driver records queries in dict
    # insertion order under a bounded budget (CORRECTNESS_r01 stopped
    # at exactly 50 entries). Final order (see _reorder below):
    # never-recorded cheap queries → never-recorded slow (streaming/
    # JDBC) queries → queries already green in a prior artifact.
    for mod_name in (
        "textops",
        "embeddings",
        "dedup",
        "ann",
        "multimodal",
        "timeseries",
        "maintenance",
        "relational",
        "audit",
        "terms",
        "streaming_sessions",
        "streaming",
        "cdc",
        "merge",
        "tpch",
        "events",
        "corpus",
        "tpch_deep",
    ):
        # a module that fails to import raises: skipping it would
        # silently shrink the registry
        mod = __import__(f"bireme_spark.queries.{mod_name}", fromlist=["QUERIES", "ORACLE"])
        _QUERIES.update(getattr(mod, "QUERIES", {}))
        _ORACLE.update(getattr(mod, "ORACLE", {}))
    recorded = _recorded_rounds()

    def _rank(name: str) -> tuple[int, int, int]:
        if name not in recorded:
            if name in _NEW_THIS_ROUND:
                return (2, 0, 1 if name in _SLOW else 0)
            return (0, 0, 0) if name not in _SLOW else (1, 0, 0)
        # recorded: stalest green row first; cheap before slow at
        # equal staleness (the driver budget is wall-clock-sensitive)
        return (3, recorded[name], 1 if name in _SLOW else 0)

    ordered = sorted(_QUERIES, key=_rank)  # stable: module order within rank
    reordered = {name: _tz_safe(_QUERIES[name]) for name in ordered}
    _QUERIES.clear()
    _QUERIES.update(reordered)


def queries() -> dict[str, QueryFn]:
    _load()
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load()
    return dict(_ORACLE)
