"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``movies_etl_spark`` package; this module is
the thin registry adapter.

Ordering note: the driver records CORRECTNESS rows for exactly the first
50 entries of ``queries()``. ``_CURRENT_PRIORITY`` names those 50, in
order; every other query follows in registration order. Earlier
windows are recorded in NOTES_r*.md.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from movies_etl_spark.plans import flagship, registry  # noqa: E402,F401
from movies_etl_spark.plans import queries_analytics  # noqa: E402,F401
from movies_etl_spark.plans import queries_curation  # noqa: E402,F401
from movies_etl_spark.plans import queries_expr  # noqa: E402,F401
from movies_etl_spark.plans import queries_ext  # noqa: E402,F401
from movies_etl_spark.plans import queries_mlprep  # noqa: E402,F401
from movies_etl_spark.plans import queries_scale  # noqa: E402,F401

SF_SMOKE_DIR = "/root/testdata/sf0.001"

# The driver's 50-name window (see the module docstring).
_CURRENT_PRIORITY = [
    "decontaminate_ngram",
    "domain_mix_sample",
    "sequence_pack",
    "similarity_topk_vectorized",
    "streaming_incremental_rollup",
    "streaming_stream_join",
    "event_transitions",
    "session_paths",
    "vocab_topk",
    "bigram_lm_counts",
    "span_dedup",
    "table_fingerprint",
    "partition_stats",
    "mad_outliers",
    "data_profile",
    "streaming_cms_freq",
    "bpe_train_merges",
    "bpe_subword_stats",
    "streaming_hll_distinct",
    "bpe_pack_pipeline",
    "parse_money",
    "dedup_cc_distributed",
    "multimodal_extract",
    "multimodal_frame_sample",
    "from_unix_seconds",
    "streaming_sessionize",
    "streaming_dedup_watermark",
    "groupby_count",
    "pivot_counts",
    "sink_jdbc_roundtrip",
    "scan_error_checked",
    "funnel_analysis",
    "week_over_week",
    "hopping_window_agg",
    "winsorize_robust_scale",
    "weighted_sample_topk",
    "dedup_minhash_lsh",
    "dedup_minhash_incremental",
    "similarity_ann_lsh",
    "dedup_embedding_cosine_vectorized",
    "embedding_block_guard",
    "dedup_cluster_components",
    "dedup_survivors",
    "streaming_lsh_dedup",
    "streaming_foreach_batch_sink",
    "dedup_survivor_policy",
    "minhash_jaccard_estimate",
    "dedup_exact_normalized",
    "streaming_hopping_window",
    "lang_id_confusion",
]


def _ordered(names: dict) -> list[str]:
    """Priority cohort first (in the current round's priority order),
    then everything else in registration order.

    A priority name absent from the registry is a HARD error (ADVICE
    r9): silently dropping it would shrink the round's 50-row driver
    window with no failure — a typo or query rename must surface before
    the driver run, not after the round's rows are recorded."""
    missing = [n for n in _CURRENT_PRIORITY if n not in names]
    if missing:
        raise AssertionError(
            "_CURRENT_PRIORITY names not in the query registry "
            f"(typo or renamed query?): {missing}"
        )
    prioritized = [n for n in _CURRENT_PRIORITY if n in names]
    rest = [n for n in names if n not in set(prioritized)]
    return prioritized + rest


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001 (driver smoke check: runs, ≥0 rows,
    stable schema)."""
    return flagship.flagship_user_activity(spark, SF_SMOKE_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    north-star extension operators), priority-ordered (see module doc)."""
    return {name: registry.QUERIES[name] for name in _ordered(registry.QUERIES)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query; keys missing here get the
    driver's weaker rows-only check (non-SQL-expressible ops)."""
    return {
        name: registry.ORACLES[name]
        for name in _ordered(registry.QUERIES)
        if name in registry.ORACLES
    }
