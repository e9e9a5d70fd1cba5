"""The benchmark's workloads. ``perfbench/NOTES.md`` gives the reasons,
the queries left out, and the layer map that says what each per-layer
metric should move on which workload.

Every workload runs on inputs made by :mod:`perfbench.inputs` from the
base tables under ``perfbench/data``; ``scale`` is the key-shift
replication factor applied to that base, and ``pass_s`` the nominal warm
pass wall time on a 4-core host, which sets how many warm passes fill a
run's ``--seconds``.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "reference_batch": {
        "scale": 3,
        "pass_s": 3.0,
        "queries": [
            "q1_sql_top_pairs",
            "q2_top_pairs_ops",
            "q3_station_distances",
            "q4_total_distance",
            "q4_total_distance_strict",
        ],
    },
    "dedup_search": {
        "scale": 1,
        "pass_s": 3.7,
        "queries": [
            "prefix_filter_jaccard_pairs",
            "minhash_candidate_pairs",
            "cosine_topk_vec0",
            "ann_lsh_topk_vec0",
            "multimodal_image_features",
        ],
    },
    "driver_bound": {
        "scale": 1,
        "pass_s": 5.0,
        "queries": [
            "ipf_raking_type_hour",
            "streaming_tumbling_counts",
            "stateful_user_session_stats",
            "streaming_dedup_within_watermark",
        ],
    },
}
