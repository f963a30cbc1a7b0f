"""The benchmark's metric names, units and directions — the single
source for ``BENCHMARK.json`` (``python3 perfbench/metrics_spec.py``
prints the file's contents; ``tests/test_spec.py`` keeps the two in
step)."""

from __future__ import annotations

import json

RUN_SECONDS = 10

WORKLOADS = [
    {"name": "ingest_and_lake",
     "why": "the paper's CSV -> upsert -> paginated-read cycle plus lake "
            "MERGE, MVs, changefeed, reads and compaction: the write-path "
            "layers do their work here, the query layers none"},
    {"name": "analytics_queries",
     "why": "fixed mix of relational and curation entries into a noop sink: "
            "the query, curation and Arrow layers do their work here, "
            "the lake and ingest layers none"},
]

# (name, unit, bound); every end-to-end metric is lower-is-better and
# every run of every workload reports all of them (run.py::gated_metrics)
END_TO_END = [
    ("setup_s", "s", 0.25),
    ("op_gmean_ms", "ms", 0.25),
    ("read_gmean_ms", "ms", 0.25),
    ("heavy_gmean_ms", "ms", 0.25),
]

LAYERS = ("session", "csv_ingest", "upsert", "stream_ingest", "paginate",
          "versioned", "mv", "changefeed", "queries", "similarity", "dedup",
          "text", "multimodal", "arrow")
COMMON = [("wall_ms", "ms", "lower"), ("driver_ms", "ms", "lower"),
          ("py4j_calls", "count", "lower"), ("jobs", "count", "lower"),
          ("task_cpu_ms", "ms", "lower"), ("shuffle_write_bytes", "B", "lower"),
          ("spill_bytes", "B", "lower")]
RELATIONAL = ("q1_pricing_summary", "q3_unshipped_orders", "q5_region_revenue",
              "q6_forecast_revenue", "agg_distinct_counts", "join_left_outer",
              "window_running", "json_extract")
SPECIFIC = [
    ("session.start_s", "s", "lower"),
    ("session.gc_ms", "ms", "lower"),
    ("session.peak_rss_mb", "MB", "lower"),
    ("csv_ingest.input_mb_per_s", "MB/s", "higher"),
    ("upsert.rows_written_per_wave_row", "ratio", "lower"),
    ("stream_ingest.trigger_wait_ms", "ms", "lower"),
    ("stream_ingest.batch_ms", "ms", "lower"),
    ("paginate.rows_scanned_per_row_returned", "ratio", "lower"),
    ("versioned.groups_rewritten_per_merge", "count", "lower"),
    ("versioned.bytes_written_per_input_byte", "ratio", "lower"),
    ("versioned.files_read_per_lookup", "count", "lower"),
    ("versioned.compact_bytes_rewritten", "B", "lower"),
    ("changefeed.rows_per_s", "1/s", "higher"),
    ("changefeed.batches_per_drain", "count", "lower"),
    *[(f"queries.{e}_ms", "ms", "lower") for e in RELATIONAL],
    ("similarity.pairs_scored_per_input_row", "ratio", "lower"),
    ("dedup.candidate_pairs_per_output_pair", "ratio", "lower"),
    ("arrow.bytes_to_python", "B", "lower"),
    ("arrow.bytes_from_python", "B", "lower"),
    ("arrow.python_ms", "ms", "lower"),
]


def per_layer() -> list[tuple[str, str, str]]:
    return ([(f"{layer}.{c}", u, b) for layer in LAYERS for c, u, b in COMMON]
            + SPECIFIC)


def per_layer_units() -> dict[str, str]:
    return {n: u for n, u, _ in per_layer()}


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": WORKLOADS,
        "end_to_end": [{"name": n, "unit": u, "better": "lower", "bound": b}
                       for n, u, b in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b in per_layer()],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
