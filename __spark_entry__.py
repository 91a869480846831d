"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship phenopacket-assembly query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 plus the beyond-reference scale operators, each paired with a
DuckDB oracle where SQL-expressible.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_DIR)
# executor Python workers inherit the driver env in local mode; exporting the
# repo on PYTHONPATH lets by-reference-pickled functions import the package
# even when the driver process runs from another cwd
os.environ["PYTHONPATH"] = _REPO_DIR + os.pathsep + os.environ.get("PYTHONPATH", "")


# Stable registry ordering: the first 50 entries form the driver's sampled
# correctness snapshot.  Policy (rotates each round, r3 verdict #7): keep
# ONE representative per operator family so every family stays sampled,
# and cycle the remaining slots to queries that have never had a driver
# row, so driver-green evidence accumulates across rounds.  Rotated-out
# queries keep their green rows in CORRECTNESS_r{1,2,3}.json.
_PRIORITY = [
    # --- representatives (driver-green in earlier rounds; the r10
    # verdict's named keeps) --------------------------------------------
    # grouping / packet assembly spine (always sampled — r4 verdict #6)
    "g10_packet_json", "g13_medical_actions", "pipeline_e2e_packets",
    # multimodal_features stays: r5's ONLY red row (array-typed result
    # crashed the driver's sort_values canon) — now posexploded to
    # atomic columns; its green r6+ rows are the fix evidence
    "multimodal_features",
    # curation_lr_calibration stays: r7's ONLY red driver row (a
    # summation-order flake) — now DECIMAL(28,12)-accumulated on both
    # engines and 5/5 hash-stable under varied partitioning
    "curation_lr_calibration",
    # source-transform spine rep (pytest pins the prefix to cover it)
    "s3_transpose",
    # similarity family rep (pytest pins the prefix to cover the family)
    "similarity_ivf_topk",
    # r9's TWO red rows (DECIMAL-render hash divergence) — now integer
    # cents on both engines; their green r10 rows are the fix evidence
    "grouping_sets_revenue", "analytics_rfm_segments",
    # --- r13-touched pins (the r12 verdict item 8 rule: any query whose
    # implementation this round touched rides the driver prefix the same
    # round) — the substring family (anchor pos narrowed to INT, output
    # contract re-cast), the web pipeline (stage-overlapped LM dims),
    # the cross-entropy operator (model-injection seam), and the
    # hard-negatives grid (block target re-derived from bytes) ---------
    "dedup_substring_spans", "dedup_substring_coverage",
    "dedup_substring_clean", "dedup_substring_shared_report",
    "curation_substring_decontaminate",
    "curation_web_pipeline_e2e", "curation_web_pipeline_report",
    "text_cross_entropy_filter", "embedding_hard_negatives",
    # (the extended pre-checkpoint scale audit found and fixed a hidden
    # corpus-sized top-k window here — implementation changed, so pinned)
    "similarity_mmr_rerank",
    # --- same rule, after r13: the two queries_joins salted queries,
    # moved onto operators/skew.py (deterministic row salt; the join now
    # plans as the salted ShuffledHashJoin) ------------------------------
    "skew_salted_agg", "skew_salted_join",
    # --- last-seen-age recycling (the standing r11 policy: with every
    # query driver-checked at least once, the non-rep slots recycle the
    # queries whose most recent driver row is OLDEST — r12 refreshed
    # the r2–r5 stragglers, so this round takes the remaining r5 rows,
    # the oldest cohort left; tools/rotation_status.py + the
    # CORRECTNESS_r* artifacts derive the ordering) ---------------------
    "asof_forward_event", "join_bloom_prefilter",
    "features_trailing_windows", "events_sessionize",
    "dedup_minhash_signature", "dedup_lsh_capped", "dedup_simhash",
    "similarity_bruteforce_topk", "text_token_counts", "text_quality",
    "multimodal_bytes", "multimodal_frame_sample",
    "multimodal_wav_energy", "multimodal_y4m_luma",
    "similarity_ivf_nprobe_topk", "multimodal_resize_plan",
    "events_gapfill_hourly", "events_locf_resample",
    "sketch_countmin_userfreq", "multimodal_audio_energy",
    "events_rollup_reuse", "events_scd2_versions",
    "similarity_pq_adc_topk", "semi_join_customers_with_orders",
    "anti_join_parts_never_bulk_ordered", "having_big_customers",
    "dedup_pipeline_canonical", "dedup_connected_components",
    "dedup_simhash_pairs",
]


def _registry():
    # importing the query modules populates the shared registry
    from phenoxtract_spark import queries_analytics, queries_joins  # noqa: F401
    from phenoxtract_spark import queries_core, queries_pipeline, queries_scale  # noqa: F401
    from phenoxtract_spark import queries_analytics2, queries_composite, queries_scalars  # noqa: F401
    from phenoxtract_spark import queries_curation, queries_llm, queries_tpch  # noqa: F401
    from phenoxtract_spark import queries_behavior, queries_semantic  # noqa: F401
    from phenoxtract_spark import queries_graph, queries_mining  # noqa: F401
    from phenoxtract_spark import queries_skew  # noqa: F401

    reg = queries_core.QUERIES
    ordered = {n: reg[n] for n in _PRIORITY if n in reg}
    ordered.update({n: v for n, v in reg.items() if n not in ordered})
    return ordered


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: per-customer nested
    order-packet JSON (the scan → group → nest → serialize spine)."""
    reg = _registry()
    fn, _ = reg["g10_packet_json"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in _registry().items() if sql is not None}
