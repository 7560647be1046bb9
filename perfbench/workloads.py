"""Workload definitions: which registered queries a workload runs, on
which generated dataset, and which staging hooks it needs before the
first timed call.

Each workload is sized so one fresh-process pass takes about half a
minute on 4 cores, set-up included. That budget leaves out
pca_power_iteration, streaming_dedup_daily_counts, streaming_daily_mode
and streaming_dedup_incremental_minhash. sessionization is left out
while it disagrees with its DuckDB oracle on the generated events: the
engine's sessionize compares gaps in whole seconds, so a gap of
1800.014 s does not open a new 30-minute session.
"""

from __future__ import annotations

# generated datasets (datagen.py scale, testdata convention)
DATASETS: dict[str, float] = {"etl": 0.1, "small": 0.01}

WORKLOADS: dict[str, dict] = {
    "etl_batch": {
        "dataset": "etl",
        "queries": [
            "daily_agg",
            "monthly_agg",
            "clamp_median_fill",
            "dedup_keep_first",
            "pipeline_daily_weather_analog",
            "validation_summary",
            "csv_roundtrip_daily",
            "partition_prune_readback",
            "q3_shipping_priority",
            "q5_region_revenue",
            "q21_waiting_suppliers",
        ],
        "prestage": [],
    },
    "driver_loop": {
        "dataset": "small",
        "queries": [
            "graph_khop_reach",
            "dbscan_clusters",
            "dedup_clusters_minhash",
        ],
        "prestage": [],
    },
    "streaming_microbatch": {
        "dataset": "small",
        "queries": [
            "streaming_daily_means",
            "streaming_outer_join",
            "streaming_cdc_scd1_upsert",
        ],
        # registry staging hooks (by function name) these queries read
        "prestage": ["_prestage_events"],
    },
}
