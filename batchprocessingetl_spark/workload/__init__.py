"""Query workload registry.

Each submodule defines two dicts: ``QUERIES`` (name -> callable(spark,
sf_dir) -> DataFrame) and ``ORACLE`` (name -> equivalent ANSI SQL for
DuckDB). To add a query, put it in its module's ``QUERIES`` and its
oracle in the same module's ``ORACLE``; a name may be defined in only
one module. The ``_REGISTERED`` tuple below is the only place the
registered/extra split exists: the CORRECTNESS registry served by
``__spark_entry__.queries()`` is exactly the ~50 names it lists
(``collect_queries()``), and the rest stay first-class via
``collect_extra_queries()`` (pytest + tools/check_oracle.py --extra).
Registering or rotating a query is one line in ``_REGISTERED``;
docs/COVERAGE.md keeps the rotation ledger.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from batchprocessingetl_spark.workload import (
    curation_queries as _curation,
    events as _events,
    inference_queries as _inference,
    mm_stream as _mm_stream,
    pipeline_queries as _pipeline,
    relational as _relational,
    round12_queries as _round12,
    round13_queries as _round13,
    stats_queries as _stats,
    textops as _textops,
    vectors as _vectors,
)

_MODULES = (
    _relational,
    _vectors,
    _mm_stream,
    _curation,
    _pipeline,
    _events,
    _textops,
    _stats,
    _inference,
    _round12,
    _round13,
)

# The registered names, in CORRECTNESS check order. Register
# or rotate a query with one line here; docs/COVERAGE.md keeps the
# per-round rotation ledger and each displaced family's evidence.
_REGISTERED = (
    # final never-checked rows — first driver proof (26)
    "q38_simhash_signatures",
    "q51_label_centroid_similarity",
    "q56_knn_int8",
    "q61_streaming_hourly",
    "q173_embedding_covariance",
    "q181_ngram_novelty",
    "q184_pmi_collocations",
    "q189_triplet_mining",
    "q193_theil_sen_trend",
    "q201_span_corruption",
    "q202_batch_padding_efficiency",
    "q205_cohens_kappa",
    "q210_target_encoding",
    "q211_woe_iv",
    "q212_average_precision",
    "q213_decision_stump",
    "q215_quantile_normalization",
    "q217_adamic_adar",
    "q218_oof_target_encoding",
    "q219_group_moments",
    "q222_feature_hash_audit",
    "q223_conformal_coverage",
    "q226_benford_audit",
    "q227_naive_bayes_langid",
    "q230_fk_integrity",
    "q231_cross_source_overlap",
    # round-11 shelf — first driver proof (13)
    "q332_knn_shapley",
    "q333_mmd_quadratic",
    "q334_energy_distance",
    "q335_knn_label_noise",
    "q336_davies_bouldin",
    "q337_silhouette_centroid",
    "q338_twonn_intrinsic_dim",
    "q339_seasonality_scan",
    "q340_t_closeness",
    "q341_hurst_rs",
    "q342_zipf_fit",
    "q343_heaps_law",
    "q344_overdispersion",
    # round-12 shelf head — first driver proof (2)
    "q345_ams_f2_sketch",
    "q346_ann_recall_audit",
    # anchors
    "q03_product_sales_in_year",
    "q40_staging_clean",
    "q41_scd2_demo",
    "q60_multimodal_features",
    "q71_sequence_packing",
    "q93_merge_upsert",
    "q111_ivm_nation_revenue",
    "q146_multitouch_attribution",
    "q147_hybrid_retrieval_rrf",
)


def _merged(attr: str) -> dict:
    """One module's ``attr`` dict after another, in ``_MODULES`` order;
    a name defined in two modules is an error, never a silent
    overwrite."""
    out: dict = {}
    for mod in _MODULES:
        dct = getattr(mod, attr)
        overlap = set(out) & set(dct)
        if overlap:
            raise ValueError(f"duplicate {attr} names: {sorted(overlap)}")
        out.update(dct)
    return out


def collect_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver-registered rows, in check order (see _REGISTERED)."""
    merged = _merged("QUERIES")
    missing = [n for n in _REGISTERED if n not in merged]
    if missing:
        raise ValueError(f"_REGISTERED names not defined anywhere: {missing}")
    return {name: merged[name] for name in _REGISTERED}


def collect_oracle() -> dict[str, str]:
    oracles = _merged("ORACLE")
    return {n: oracles[n] for n in _REGISTERED if n in oracles}


def collect_extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Queries kept out of the driver registry (its CORRECTNESS run
    checks ~50 entries/round) but still first-class, pytest-run surface."""
    registered = set(_REGISTERED)
    return {n: fn for n, fn in _merged("QUERIES").items() if n not in registered}


def collect_extra_oracle() -> dict[str, str]:
    registered = set(_REGISTERED)
    return {n: sql for n, sql in _merged("ORACLE").items() if n not in registered}
