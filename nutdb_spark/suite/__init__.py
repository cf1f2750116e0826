"""The engine's named query suite — the driver contract surface.

Every operator row in SURVEY.md §2 registers a named query here (via
``nutdb_spark.suite.registry.query``) together with an ANSI-SQL oracle
string DuckDB can run on the same parquet fixtures. ``__spark_entry__``
re-exports these dicts.
"""

from __future__ import annotations

import importlib

from nutdb_spark.suite.registry import ORACLE, QUERIES

# Import for side effect: each module registers its queries.
_MODULES = (
    "nutdb_spark.suite.tpch",
    "nutdb_spark.suite.query_core",
    "nutdb_spark.suite.joins",
    "nutdb_spark.suite.expressions",
    "nutdb_spark.suite.functions_suite",
    "nutdb_spark.suite.dedup",
    "nutdb_spark.suite.similarity",
    "nutdb_spark.suite.text",
    "nutdb_spark.suite.streaming_suite",
    "nutdb_spark.suite.multimodal_suite",
    "nutdb_spark.suite.analytics_suite",
    "nutdb_spark.suite.sketch_suite",
    "nutdb_spark.suite.sql_suite",
    "nutdb_spark.suite.ddl_suite",
    "nutdb_spark.suite.pipeline",
)

for _m in _MODULES:
    try:
        importlib.import_module(_m)
    except ModuleNotFoundError as ex:
        # Only tolerate the suite module itself being absent; a missing
        # transitive import inside an existing module is a real bug and
        # must not silently shrink the graded suite.
        if ex.name != _m:
            raise

# Entries named in _PRIORITY lead the registry, in its order; the rest
# follow in registration order.
_PRIORITY = [
    # --- (1) never driver-graded (r12 backlog, named in the verdict) ---
    "q_text_gopher", "q_dedup_substring", "q_dedup_substring_incremental",
    "q_dedup_substring_delete", "q_sample_dsir", "q_pack_shuffle",
    "q_text_sentiment", "q_stream_curate", "q_stream_dsir",
    "q_traj_dtw_topk", "sql_table_fn_gopher", "sql_table_fn_dsir",
    "sql_table_fn_bpe_train", "sql_table_fn_substring",
    "sql_table_fn_sentiment", "sql_fn_tier18", "sql_fn_tier19",
    "sql_fn_tier20",
    # --- (2) new in round 13 ---
    "q_text_langid_clf", "q_sample_ccnet_langid", "sql_table_fn_langid",
    "q_dedup_image", "sql_table_fn_dtw", "q_sample_temperature_langid",
    "q_dedup_audio", "q_dedup_image_incremental",
    "q_sketch_hll", "q_sketch_hll_merge", "q_sketch_cms_heavy",
    "q_mix_doremi", "q_sim_topk_sq8", "q_layout_zorder",
    "q_text_bpe_decode", "q_sketch_hll_incremental",
    "sql_table_fn_hll", "sql_table_fn_doremi", "q_sketch_hll_setops",
    "q_sim_hard_negatives", "q_text_span_corrupt",
    "q_stream_sketch_hll", "q_sketch_join_size",
    "q_pipeline_denoise",
    # --- (3) value/machinery changed in round 13 ---
    "q_pipeline_curate", "q_stream_join", "q_stream_join_left",
    "q_stream_join_right", "q_stream_join_full",
    # --- (4) r6 re-grade pool, name order ---
    "q_cte", "q_dedup_connected_star", "q_dedup_minhash_lsh",
]


def _reorder() -> None:
    front = [n for n in _PRIORITY if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(front)]
    for mapping in (QUERIES, ORACLE):
        ordered = {n: mapping[n] for n in front + rest if n in mapping}
        mapping.clear()
        mapping.update(ordered)


_reorder()

__all__ = ["QUERIES", "ORACLE"]
