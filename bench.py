"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline queries, then every pack in ``PACKS``, at
$SPARK_GRAFT_SF_DIR (default sf0.1) in one Spark session,
materializing each result through the noop sink (full execution, no
I/O cost). Each query runs twice; the warm run is reported
(JVM/codegen warmup excluded). DuckDB oracle timings for the same
queries ride along in "duckdb_sec" so the within-2x baseline gate
(BASELINE.md) is visible per query.

The full board goes to stderr and ``bench_full.json``; stdout carries
the headline per query plus every pack total. A change that may move
these numbers is judged by an interleaved A/B on one host
(``perfbench/run.py`` alternated between the parent and the change
checkout), not by comparing boards taken at different times.

Usage: python bench.py            # one JSON line to stdout
       python bench.py -v         # plus per-query progress to stderr
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

HEADLINE = [
    "q_pricing_summary",
    "q_agg_group",
    "q_join_broadcast",
    "q_join_multiway",
    "q_join_theta_range",
    "q_win_topk_per_group",
    "q_win_frame_rows",
    "q_stream_session",
    "q_text_tfidf",
    "q_text_quality",
    "q_dedup_ngram_jaccard",
    "q_sim_topk_bruteforce",
    "q_limit_topk",
    "q_events_funnel",
    "q_shipping_priority",
]

# Packs in run order, keyed by the prefix of their "<pack>_queries" and
# "<pack>_total_warm_sec" board entries. A pack keeps the members of the
# round that added it, so each total stays comparable across rounds.
# The order is part of the measurement: every query runs in the same
# session, after everything listed before it.
PACKS: dict[str, list[str]] = {
    "llm": [
        "q_pipeline_corpus_prep", "q_decontaminate", "q_text_repetition",
        "q_chunk_overlap", "q_pack_sequences", "q_mixture_sample", "q_dedup_minhash",
        "q_quantize_embeddings",
    ],
    "ann": [
        "q_sim_ann_lsh", "q_sim_ann_ivf", "q_sim_ann_pq", "q_dedup_semantic",
        "q_dedup_simhash", "q_bitmap_distinct", "q_agg_sketches",
    ],
    "scoring": [
        "q_lm_perplexity", "q_sample_hash_deterministic", "q_vocab_coverage",
        "q_scd2_dimension", "q_stream_late_accounting", "q_dedup_components",
        "q_dedup_canonical", "q_zorder_layout", "q_events_retention", "q_cdc_apply",
        "q_text_boilerplate", "q_mixture_temperature", "q_graph_pagerank",
        "q_skyline_orders", "q_copurchase_pairs", "q_event_transitions",
        "q_ab_test_proportions", "q_profile_columns", "q_rolling_active_users",
        "q_conversion_latency",
    ],
    "round5": [
        "q_market_share", "q_top_supplier", "q_small_qty_revenue",
        "q_lonely_returned_supplier", "q_referential_integrity", "q_pk_uniqueness",
        "q_embedding_quality", "q_text_entropy", "q_text_trigrams", "q_graph_triangles",
        "q_events_anomaly", "q_monthly_growth", "q_stream_stateful_counter",
        "q_stream_static_enrich", "q_text_pmi", "q_customer_rfm", "q_order_gaps",
        "q_events_attribution", "q_stream_stream_join", "q_text_bm25",
        "q_skew_diagnose", "q_outlier_iqr", "q_cohort_ltv", "q_forecast_revenue",
        "q_min_cost_supplier", "q_product_profit", "q_important_stock",
        "q_supplier_part_counts", "q_excess_suppliers", "q_local_supplier_volume",
        "q_late_shipment_priority", "q_stream_tumbling_real", "q_stream_sliding_real",
        "q_dedup_containment", "q_join_asof_nearest",
    ],
    "round6": [
        "q_dedup_substring", "q_dedup_substring_apply", "q_audit_incremental",
        "q_graph_label_propagation", "q_stream_dedup_real",
        "q_stream_foreachbatch_merge", "q_bpe_train",
    ],
    "round6b": [
        "q_quality_gopher", "q_shard_balanced", "q_dedup_incremental", "q_bpe_encode",
        "q_cluster_kmeans", "q_dedup_cdc_chunks", "q_dedup_cdc_apply",
        "q_mixture_budget", "q_split_leakage_safe", "q_sample_weighted",
        "q_sim_ann_ivfpq", "q_batch_by_length", "q_outlier_mad",
        "q_sample_stratified_exact", "q_pipeline_corpus_build",
    ],
    "round6c": [
        "q_dialogue_pack", "q_contrastive_negatives", "q_sft_pairs",
        "q_sft_reward_pairs", "q_pipeline_sft_build", "q_drift_psi", "q_snapshot_diff",
        "q_hard_negatives", "q_kanon_audit", "q_ldiversity_audit", "q_dp_release",
        "q_curriculum_stages", "q_epoch_shuffle", "q_join_runtime_filter",
        "q_event_pattern_match", "q_surrogate_keys", "q_scan_json_permissive",
        "q_sim_ann_filtered", "q_langid_confusion", "q_attribution_linear",
        "q_scd2_pointintime", "q_concurrent_sessions", "q_rolling_median",
        "q_pipeline_warehouse_audit", "q_entity_resolution",
        "q_source_python_ds_stream", "q_forecast_holt", "q_coreset_kcenter",
        "q_right_to_erasure", "q_changepoint_cusum", "q_scan_agg_pushdown",
    ],
    "round7": [
        "q_table_time_travel", "q_table_snapshot_history", "q_table_manifest_pruning",
        "q_stream_table_ingest", "q_bpe_train_bytes", "q_bpe_encode_bytes",
        "q_classifier_nb", "q_select_dsir", "q_unigram_lm_train", "q_table_lifecycle",
        "q_table_merge_partial",
    ],
    "round8": [
        "q_table_schema_evolution", "q_table_snapshot_delta", "q_table_rollback",
        "q_table_incremental_read",
    ],
    "round10": [
        "q_sim_ann_hnsw",
    ],
    "round11": [
        "q_pipeline_table_shard",
    ],
    "round12": [
        "q_pipeline_stream_corpus", "q_stream_concurrent_ingest",
        "q_table_delete_vectors", "q_table_write_audit_publish",
        "q_pipeline_gdpr_erasure", "q_table_merge_on_read", "q_stream_cdc_upsert",
    ],
}


def duck_connect(sf_dir: str):
    """DuckDB connection with a view per corpus table, given as many
    threads as the Spark side gets cores, so the per-query DuckDB
    comparison is made on equal hardware."""
    import duckdb

    from pypiper_spark.catalog import TABLES
    from pypiper_spark.session import _core_count

    con = duckdb.connect()
    con.sql(f"SET threads TO {_core_count()}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def main() -> int:
    verbose = "-v" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from pypiper_spark.registry import all_queries, resolve_oracle
    from pypiper_spark.session import get_spark

    spark = get_spark(app_name="pypiper-spark-bench")
    qs = all_queries()

    def run_once(name: str) -> float:
        t0 = time.perf_counter()
        qs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def run_timed(name: str) -> float:
        run_once(name)  # warmup: codegen + shuffle file warm
        t = run_once(name)
        # release per-query persist()s (cache manager keys on the
        # analyzed plan, so the warmup's cached intermediates ARE the
        # timed run's — clearing only AFTER both keeps the warm-cache
        # timing while stopping cross-query cache accumulation)
        spark.catalog.clearCache()
        return t

    groups = {"headline": HEADLINE, **PACKS}
    board: dict[str, dict[str, float]] = {g: {} for g in groups}
    for group, names in groups.items():
        for name in names:
            t = run_timed(name)
            board[group][name] = round(t, 3)
            if verbose:
                print(f"  {name}: {t:.3f}s", file=sys.stderr)

    # DuckDB twin timings (same machine, same data) for the 2x gate.
    duck: dict[str, float] = {}
    try:
        con = duck_connect(sf_dir)
        for name in (n for names in groups.values() for n in names):
            oracle = resolve_oracle(qs[name], sf_dir)
            if not oracle:
                continue
            con.sql(oracle).fetchall()  # warm
            t0 = time.perf_counter()
            con.sql(oracle).fetchall()
            duck[name] = round(time.perf_counter() - t0, 3)
            if verbose:
                print(f"  duckdb {name}: {duck[name]:.3f}s", file=sys.stderr)
    except Exception as e:  # noqa: BLE001
        duck = {"error": str(e)[:200]}  # type: ignore[dict-item]

    # Reference-model comparison point: the flagship query executed the
    # way the reference engine executes (single-thread, row-at-a-time
    # Python over materialized rows) — the throughput bar this engine
    # must beat. Real pyPiper adds per-item queue/emit overhead on top.
    ref_model = None
    try:
        ref_model = _reference_model_flagship(sf_dir)
    except Exception:
        pass

    out = {
        "metric": "headline_total_warm_sec",
        "value": round(sum(board["headline"].values()), 3),
        "unit": "sec",
        "queries": board["headline"],
    }
    for p in PACKS:
        out[f"{p}_queries"] = board[p]
        out[f"{p}_total_warm_sec"] = round(sum(board[p].values()), 3)
    out |= {
        "sf": sf,
        "duckdb_sec": duck,
        "reference_model_flagship_sec": ref_model,
        "n_headline": len(HEADLINE),
    }
    full = json.dumps(out)
    with open(os.path.join(REPO, "bench_full.json"), "w") as fh:
        fh.write(full + "\n")
    print(full, file=sys.stderr)
    # stdout stays ONE compact JSON line (the driver keeps only the
    # last ~2000 stdout characters): the headline per query plus every
    # pack total, ~1 KB for the fixed query names above.
    print(json.dumps({k: v for k, v in out.items() if k != "duckdb_sec" and not k.endswith("_queries")}))
    return 0


def _reference_model_flagship(sf_dir: str) -> float:
    """Q1 as the reference would run it: push each row through Python."""
    import datetime

    import pyarrow.parquet as pq

    t0 = time.perf_counter()
    tbl = pq.read_table(
        f"{sf_dir}/lineitem.parquet",
        columns=[
            "l_shipdate",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
        ],
    )
    cutoff = datetime.datetime(1998, 9, 1)
    acc: dict = {}
    for r in tbl.to_pylist():  # source node -> per-item run()
        if r["l_shipdate"] > cutoff:
            continue
        key = (r["l_returnflag"], r["l_linestatus"])
        a = acc.setdefault(key, [0.0, 0.0, 0.0, 0])
        disc = r["l_extendedprice"] * (1 - r["l_discount"])
        a[0] += r["l_quantity"]
        a[1] += disc
        a[2] += disc * (1 + r["l_tax"])
        a[3] += 1
    return round(time.perf_counter() - t0, 3)


if __name__ == "__main__":
    sys.exit(main())
