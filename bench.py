"""Benchmark harness: times the registered queries on the test tables in
$SPARK_GRAFT_SF_DIR (default: the sf0.1 tables) on local[$SPARK_GRAFT_CPUS],
writes the full record to BENCH_DETAIL.json and prints it, then prints ONE
compact JSON line (the final line, which the driver parses).

Every query runs REPEATS times through the noop sink (full compute, no
driver collect) and reports its MEDIAN wall; the detail record's ``spread``
keeps {min, max} across the repeats, and totals are sums of medians.
Queries that materialize a warehouse layer on first touch (hypertable
rollup, at-rest indexes) amortize it across repeats, so the median is the
steady-state serving cost.

- ``queries``: the frozen 15-query HEADLINE (``value`` is its total) plus
  ``scaling_canary``, which is not part of ``value``.
- Series: every other registered query not in UNTIMED, grouped by the last
  component of the plan module that defines it (``<module>_total``).
- ``noise_ref``: median wall of a tiny fixed aggregation, a host-state
  barometer; ``headline_per_noise`` is ``value / noise_ref``.
- ``vs_prev``: per-headline-query wall ratios against the newest
  ``BENCH_r*.json`` beside this file that was recorded at the same core
  count and scale factor (``prev`` names it); null when there is none.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time
import traceback

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

HEADLINE = [
    "q1_sql_top_pairs",
    "q2_top_pairs_ops",
    "q3_station_distances",
    "q4_total_distance",
    "pricing_summary",
    "join_broadcast_revenue",
    "window_rank_orders",
    "hypertable_rollup_hourly",
    "dedup_exact_docs",
    "jaccard_on_lsh_candidates",
    "minhash_candidate_pairs",
    "cosine_topk_vec0",
    "ann_lsh_topk_vec0",
    "multimodal_image_features",
    "streaming_tumbling_counts",
]

#: Registered queries left out of the timed series to bound bench run time.
UNTIMED = frozenset(
    {
        "ann_lsh_multitable_topk_indexed_vec0",
        "argmax_order_per_customer",
        "asof_join_last_event_per_order",
        "attribution_delay_quantiles",
        "benchmark_contamination_topk",
        "column_profile_rides",
        "cosine_topk_pandas_vec0",
        "count_distinct_users",
        "countmin_user_estimates",
        "create_fixture_counts",
        "csv_format_lines",
        "cube_orders",
        "curation_funnel_by_lang",
        "data_mixture_weights",
        "dataset_split_counts",
        "dedup_connected_components_lss",
        "distinct_pairs",
        "doc_fingerprints",
        "duplicate_ngram_spans",
        "embedding_dedup_clusters",
        "embedding_near_dup_lsh",
        "embedding_near_dup_pairs",
        "embedding_norms_by_label",
        "event_transition_matrix",
        "events_group_topk",
        "events_hourly_counts",
        "explode_tokens_topk",
        "grouped_map_best_doc",
        "hll_intersection_users",
        "hll_registers_users",
        "hourly_anomaly_zscores",
        "inverted_index_terms",
        "ivf_topk_indexed_vec0",
        "ivf_topk_trained_vec0",
        "ivf_topk_vec0",
        "ivfpq_topk_vec0",
        "jaccard_pairs_by_source",
        "join_anti_unordered_parts",
        "join_semi_active_customers",
        "json_props_histogram",
        "kmeans_embedding_clusters",
        "knn_join_vec10",
        "lang_id_confusion",
        "lateral_top_customers_per_nation",
        "minhash_signatures",
        "multimodal_audio_features",
        "multimodal_decode_bmp",
        "multimodal_decode_wav",
        "multimodal_frame_sample",
        "normalized_fingerprints",
        "ohlc_hourly_value_bars",
        "opq_topk_vec0",
        "pandas_udf_char_classes",
        "pivot_user_event_matrix",
        "pq_topk_vec0",
        "project_filter_nulls",
        "q3_station_distances_geodesic",
        "q4_total_distance_by_name",
        "q4_total_distance_cogroup",
        "q4_total_distance_strict",
        "q5_local_supplier_volume",
        "quality_scores_top",
        "quarantine_rule_counts",
        "range_join_value_bands",
        "recursive_hour_spine_counts",
        "regex_token_counts",
        "repetition_flags",
        "rolling_median_value",
        "rollup_nation_revenue",
        "salted_group_count_events",
        "salted_join_revenue",
        "scd2_event_type_history",
        "set_ops_customers",
        "shuffle_skew_report",
        "simhash_md5_signatures",
        "simhash_near_dup_pairs",
        "simhash_signatures_xxhash64_perf",
        "sort_limit_offset",
        "streaming_dedup_events",
        "streaming_enriched_nation_counts",
        "streaming_session_windows",
        "streaming_sliding_counts",
        "streaming_stateful_user_counts",
        "text_stats_by_lang",
        "token_cooccurrence_pmi",
        "tpch_q10_returned_items",
        "tpch_q3_shipping_priority",
        "udtf_token_chunks",
        "user_retention_cohorts",
        "value_quantiles_by_type",
        "variant_props_stats",
        "weekly_revenue_wow",
        "window_lag_event_gaps",
        "window_rolling_order_totals",
    }
)


def _scaling_canary(spark, n_rows: int = 40_000_000):
    """Data-sized synthetic aggregate whose wall scales with the core count.
    At sf0.1 every headline query sits on the ~0.2 s/stage scheduling
    floor, so its wall barely moves with the core count. The canary is pure
    JVM codegen work (chained xxhash64 over ``n_rows`` synthetic rows, one
    small shuffle) at the session's defaultParallelism. Deterministic, with
    no test-data dependency."""
    from pyspark.sql import functions as F

    p = spark.sparkContext.defaultParallelism
    df = spark.range(0, n_rows, 1, p).select(F.xxhash64("id").alias("h0"))
    for i in range(3):
        df = df.select(F.xxhash64(f"h{i}").alias(f"h{i + 1}"))
    # sum a bounded projection: raw xxhash64 longs overflow a long sum,
    # which is an error under spark.sql.ansi.enabled=true
    return df.groupBy(F.pmod(F.col("h3"), F.lit(4096)).alias("b")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.pmod(F.col("h3"), F.lit(1 << 20))).alias("s"),
    )


def series(queries: dict) -> dict[str, list[str]]:
    """Timed non-headline query names, grouped by the last component of the
    module that defines each query (``plans.wave6`` -> ``wave6``)."""
    groups: dict[str, list[str]] = {}
    for name, fn in queries.items():
        if name not in HEADLINE and name not in UNTIMED:
            module = fn.__module__.rsplit(".", 1)[-1]
            groups.setdefault(module, []).append(name)
    return groups


def previous_record(root: str, cpus: int, sf: float) -> tuple[str, dict] | None:
    """(file name, parsed final line) of the newest ``BENCH_r*.json`` in
    ``root`` recorded at ``cpus`` cores and scale factor ``sf`` whose final
    line parsed into a bench record; None when no record matches."""
    found = []
    for path in glob.glob(os.path.join(root, "BENCH_r*.json")):
        with open(path) as f:
            rec = json.load(f)
        parsed = rec.get("parsed")
        # a crashed run can parse a log line instead of the bench record
        if (
            rec.get("cpus") == cpus
            and rec.get("sf") == sf
            and isinstance(parsed, dict)
            and "queries" in parsed
        ):
            found.append((rec.get("n", 0), os.path.basename(path), parsed))
    if not found:
        return None
    _, name, parsed = max(found, key=lambda t: t[:2])
    return name, parsed


def _time(make_df, reps: int = REPEATS) -> tuple[float, dict[str, float]]:
    """Run ``make_df()`` into the noop sink ``reps`` times; (median wall,
    {min, max}) in seconds."""
    walls = []
    for _ in range(reps):
        t0 = time.time()
        make_df().write.mode("overwrite").format("noop").save()
        walls.append(time.time() - t0)
    spread = {"min": round(min(walls), 3), "max": round(max(walls), 3)}
    return round(statistics.median(walls), 3), spread


def compact_line(detail: dict) -> str:
    """Render the final compact record (the line the driver parses into
    BENCH_r{N}.json) from the full detail record. The driver keeps only the
    last ~2000 chars of stdout, so this line carries totals, not series
    members (length pinned by tests/test_bench_record.py)."""
    rec = {k: detail[k] for k in ("metric", "value", "unit", "queries")}
    for module, walls in detail["series"].items():
        rec[f"{module}_total"] = round(sum(walls.values()), 3)
    vs_prev = detail["vs_prev"]
    rec.update(
        {
            "noise_ref": detail["noise_ref"],
            "headline_per_noise": detail["headline_per_noise"],
            "vs_prev_max": max(vs_prev.values()) if vs_prev else None,
            "prev": detail["prev"],
            # the parallelism the run actually used, so a scaling
            # comparison can confirm $SPARK_GRAFT_CPUS from the record
            "parallelism": detail["parallelism"],
            "shuffle_partitions": detail["shuffle_partitions"],
            "detail": "BENCH_DETAIL.json",
            "repeats": detail["repeats"],
            "aggregation": detail["aggregation"],
            "sf": detail["sf"],
        }
    )
    return json.dumps(rec)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from apache_beam_challange_spark.plans import registry
    from apache_beam_challange_spark.session import get_spark

    spark = get_spark("bench")
    registry.load_all()
    qs = registry.QUERIES

    def noise_probe():
        return spark.read.parquet(f"{sf_dir}/lineitem.parquet").groupBy(
            "l_returnflag"
        ).count()

    @pandas_udf("long")
    def _noop_udf(s):
        return s

    # Warm the JVM/codegen paths and the Python worker pool, untimed:
    # session startup and first-query JIT are one-time costs.
    _time(noise_probe, 1)
    _time(lambda: spark.range(1000).select(_noop_udf(F.col("id"))), 1)
    noise_ref = _time(noise_probe, 5)[0]

    spread: dict[str, dict[str, float]] = {}

    def timed(name, make_df=None):
        wall, spread[name] = _time(make_df or (lambda: qs[name](spark, sf_dir)))
        return wall

    timings = {name: timed(name) for name in HEADLINE}
    total = round(sum(timings.values()), 3)
    # the canary cannot fail the run: an error records null
    try:
        timings["scaling_canary"] = timed(
            "scaling_canary", lambda: _scaling_canary(spark)
        )
    except Exception:
        print("scaling canary failed; recording null", file=sys.stderr)
        traceback.print_exc()
        timings["scaling_canary"] = None
    groups = {
        module: {name: timed(name) for name in names}
        for module, names in series(qs).items()
    }

    cpus = spark.sparkContext.defaultParallelism
    prev_name, prev_rec = previous_record(REPO, cpus, sf) or (None, None)
    vs_prev = None
    if prev_rec is not None:
        prev_walls = prev_rec["queries"]
        vs_prev = {
            n: round(timings[n] / prev_walls[n], 2)
            for n in HEADLINE
            if prev_walls.get(n)
        }
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "series": groups,
        "spread": spread,
        "noise_ref": noise_ref,
        "headline_per_noise": round(total / noise_ref, 2) if noise_ref else None,
        "vs_prev": vs_prev,
        "prev": prev_name,
        "parallelism": cpus,
        "shuffle_partitions": int(
            spark.conf.get("spark.sql.shuffle.partitions")
        ),
        "repeats": REPEATS,
        "aggregation": "median",
        "sf": sf,
    }
    with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f)
    print(json.dumps(detail))
    print(compact_line(detail))


if __name__ == "__main__":
    main()
