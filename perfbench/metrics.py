"""Names, units and directions of every metric the benchmark reports.

BENCHMARK.json at the repository root lists the same metrics; a
self-test keeps the two in step.
"""

from __future__ import annotations

import re

from .workloads import ROUTES

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# (name, unit, better); the untraced run reports exactly these. Median
# latency is reported beside them (run.py) but not bounded: on a shared
# 4-vCPU host the query mix's median moved by a quarter across runs.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("throughput_per_s", "1/s", "higher"),
]

# spans of the layer sweep whose Spark task metrics are reported
SPARK_SPANS = ["fused_stage", "twostage_stage", "idw", "incremental_ingest",
               "catalog_write", "catalog_load", "queries"]
# GC time is summed over the whole sweep instead: per span it is often
# exactly zero, which says nothing
SPARK_FIELDS = [
    ("executor_run_s", "s"), ("cpu_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
    ("input_bytes", "bytes"), ("tasks", "count"), ("failed_tasks", "count"),
    ("driver_remainder_s", "s"),
]


def _per_layer():
    out = [
        ("text.anchor_pages_per_s", "1/s", "higher"),
        ("text.anchors_per_page", "count", "higher"),
        ("text.bad_coord_rows_indexed", "count", "lower"),
        ("h3core.multi_assign_points_per_s", "1/s", "higher"),
        ("h3core.allres_points_per_s", "1/s", "higher"),
        ("geo.pip_points_per_s", "1/s", "higher"),
        ("geo.polyfill_ms", "ms", "lower"),
        ("index_pages.fused_stage_s", "s", "lower"),
        ("index_pages.twostage_stage_s", "s", "lower"),
        ("index_pages.in_region_ratio", "ratio", "higher"),
        ("index_pages.arrow_remainder_core_s", "s", "lower"),
        ("interpolate.idw_s", "s", "lower"),
        ("interpolate.candidate_rows", "count", "lower"),
        ("interpolate.keep_ratio", "ratio", "higher"),
        ("incremental.ingest_s", "s", "lower"),
        ("catalog.write_s", "s", "lower"),
        ("catalog.files_per_snapshot", "count", "lower"),
        ("catalog.bytes_per_row", "bytes", "lower"),
        ("catalog.manifest_bytes", "bytes", "lower"),
        ("catalog.load_s", "s", "lower"),
    ]
    for route in ROUTES:
        if route != "filter":
            out += [(f"queries.{route}.plan_ms", "ms", "lower"),
                    (f"queries.{route}.exec_ms", "ms", "lower")]
    out.append(("queries.rows_read_per_row_returned", "ratio", "lower"))
    out += [(f"api.{route}.ms_p50", "ms", "lower") for route in ROUTES]
    out += [
        ("correlate.filter_ms_p50", "ms", "lower"),
        ("engine.session_start_s", "s", "lower"),
        ("engine.jvm_peak_rss_mb", "MiB", "lower"),
        ("engine.driver_peak_rss_mb", "MiB", "lower"),
        ("trace.overhead.throughput_per_s", "1/s", "higher"),
        ("trace.overhead.latency_ms_p50", "ms", "lower"),
    ]
    out.append(("spark.gc_s", "s", "lower"))
    for span in SPARK_SPANS:
        out += [(f"spark.{span}.{f}", unit, "lower")
                for f, unit in SPARK_FIELDS]
    return out


PER_LAYER = _per_layer()
UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}
