"""Benchmark timer: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Each query is fully materialised through the noop sink (the whole plan
runs, nothing is collected) ``N_RUNS`` times, and the fastest
run is recorded: the first run pays one-off JVM/codegen warm-up, which a
long-lived cluster would not see per query.

The payload ``{metric, value, unit, queries, sf}`` (``value`` is the sum
of ``queries``) is printed in full to stderr and written to
``results/BENCH_LOCAL.json``; stdout gets one compact JSON line
(:func:`compact_line`).  Wall time is all this file measures: to see
where a query's time goes (task and CPU time, stages run and skipped,
effective parallelism), run ``perfbench/run.py`` with ``--trace 1``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from naive_query_engine_spark import get_spark  # noqa: E402
from naive_query_engine_spark.queries import QUERIES  # noqa: E402

#: TPC-H scan/agg and join shapes, windows, events, and at least one
#: query from every pipeline operator family (dedup, similarity and the
#: IVF index, graph, text, sketches, k-means, datasets, multimodal,
#: lakehouse, audit), so a regression in any family moves the total.
#: Names and order stay fixed: runs are compared query by query.
BENCH_QUERIES = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q06_forecast_revenue",
    "q07_nation_trade",
    "q09_profit_by_nation_year",
    "join_inner_chain",
    "agg_grouped_computed_key",
    "window_rank",
    "events_sessionize",
    "asof_join_events_orders",
    "range_join_event_pairs",
    "text_quality_score",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_cosine_pairs",
    "similarity_topk_vectorized",
    "text_bm25_topk",
    "dedup_substring",
    "dedup_substring_strided",
    "fuzzy_entity_resolution",
    "embedding_kmeans_lloyd",
    "retrieval_rrf_fusion",
    "events_value_drift_ks",
    "dedup_tfidf_cosine_prefix",
    "embedding_top_pc_power_iteration",
    "sketch_join_size_estimate",
    "events_value_jackknife_ci",
    "dedup_containment",
    "events_trend_theil_sen",
    "sketch_ams_f2",
    "similarity_mutual_knn",
    "dedup_segment_exact",
    "pipeline_cdc_merge",
    "multimodal_image_phash_dedup",
    "events_absence_timeout",
    "dataset_dsir_importance_weights",
    "multimodal_audio_vad_segments",
    "embedding_matryoshka_prefix_recall",
    "dataset_split_neardup_leakage",
    "embedding_cluster_balanced_sample",
    "multimodal_http_response_parse",
    "orders_snapshot_as_of",
    "dedup_cross_source_overlap",
    "events_ab_srm_check",
    "text_tokenizer_fertility",
    "multimodal_phash_hamming_neardup",
    "graph_label_modularity_ivf",
    "dedup_tokens_saved_by_source",
    "similarity_range_search_ivf",
    "graph_neighborhood_function_ivf",
    "events_attribution_position_based",
    "text_quality_funnel",
    "audit_t_closeness",
    "dedup_ingest_admit_gate",
    "similarity_ivf_maintenance_tick",
    "similarity_ivfpq_adc_topk",
    "dedup_ingest_admit_gate_growk",
    "embedding_kcenter_coreset",
]

#: runs per query; the minimum is recorded
N_RUNS = 3

#: the compact stdout line must fit this many characters, because
#: consumers parse it out of a 2000-character tail of stdout
LINE_LIMIT = 1900


def run_one(spark, name: str, sf_dir: str) -> float:
    best = float("inf")
    for _ in range(N_RUNS):
        t0 = time.perf_counter()
        QUERIES[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def compact_line(payload: dict) -> str:
    """``payload`` as one JSON line, per-query seconds rounded to the
    first of 3, 2, 1 or 0 decimals that fits ``LINE_LIMIT`` (0 decimals
    prints whole seconds as integers)."""
    for digits in (3, 2, 1, None):
        queries = {k: round(v, digits) for k, v in payload["queries"].items()}
        line = json.dumps({**payload, "queries": queries}, separators=(",", ":"))
        if len(line) <= LINE_LIMIT:
            break
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(app_name="nqes-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so query 1 isn't charged for startup
    QUERIES["agg_ungrouped"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    timings = {name: round(run_one(spark, name, sf_dir), 3) for name in BENCH_QUERIES}
    payload = {
        "metric": "headline_queries_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    print(json.dumps(payload, indent=1), file=sys.stderr)
    # results/ is gitignored; the full-precision copy survives the
    # rounding of the stdout line
    try:
        results_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "results")
        os.makedirs(results_dir, exist_ok=True)
        with open(os.path.join(results_dir, "BENCH_LOCAL.json"), "w") as fh:
            json.dump(payload, fh, indent=1)
    except OSError as exc:
        print(f"bench: could not write results/BENCH_LOCAL.json: {exc}", file=sys.stderr)
    print(compact_line(payload))


if __name__ == "__main__":
    main()
