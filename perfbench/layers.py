"""Per-layer sweep of the traced run.

Each layer is timed from outside, by calling its public function on the
workload's inputs, inside a span. Kernels run single-core in the driver;
Spark stages run on the session, and their task metrics come from the
event log afterwards (`spark_metrics`). The sweep is the same for every
workload, so every traced run reports every per-layer metric.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import numpy as np

from . import workloads as wl
from .eventlog import EventLog
from .metrics import SPARK_FIELDS, SPARK_SPANS

KERNEL_REPS = 3
API_REPS = 2
LOAD_REPS = 2
INGEST_PAGES = 500


def _median_time(fn, reps=KERNEL_REPS) -> tuple[float, object]:
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def kernels(fl: wl.Flagship) -> tuple[dict, float]:
    """single-core kernel rates on the flagship pages; also returns the
    kernel core-seconds the fused stage spends on the same rows."""
    import pyarrow.parquet as pq

    from osc_geo_h3grid_srv_spark.functions import geo, h3core, text
    html = pq.read_table(fl.pages_path, columns=["html"]).column("html")
    n_pages = len(html)

    def anchors():
        parts = [text.extract_geo_anchors_arrow(c) for c in html.chunks]
        return (np.concatenate([p[1] for p in parts]),
                np.concatenate([p[2] for p in parts]))

    t_text, (la, lo) = _median_time(anchors)
    t_multi, _ = _median_time(
        lambda: h3core.latlng_to_cells_multi(la, lo, list(range(10))))
    t_all, _ = _median_time(
        lambda: h3core.latlng_to_cells_multi(la, lo, list(range(16))))
    t_pip, _ = _median_time(lambda: geo.points_in_polys(la, lo, fl.region))
    t_fill, _ = _median_time(lambda: geo.polyfill(fl.region, 5))
    b = fl.region.bounds()
    inb = (la >= b[0]) & (la <= b[1]) & (lo >= b[2]) & (lo <= b[3])
    t_pip_inb, _ = _median_time(
        lambda: geo.points_in_polys(la[inb], lo[inb], fl.region))
    out = {
        "text.anchor_pages_per_s": n_pages / t_text,
        "text.anchors_per_page": len(la) / n_pages,
        "h3core.multi_assign_points_per_s": len(la) / t_multi,
        "h3core.allres_points_per_s": len(la) / t_all,
        "geo.pip_points_per_s": len(la) / t_pip,
        "geo.polyfill_ms": t_fill * 1e3,
    }
    return out, t_text + t_multi + t_pip_inb


def stages(fl: wl.Flagship, tracer) -> dict:
    """the fused and two-stage indexers to a noop sink, then IDW on a
    cached clip."""
    from pyspark.sql import functions as F

    from osc_geo_h3grid_srv_spark.operators.index_pages import (
        assign_cells, extract_index_clip, extract_points)
    pages = fl.spark.read.parquet(fl.pages_path)
    fused = extract_index_clip(pages, max_res=9, parent_res=1,
                               packed_bc=fl.region_bc,
                               bbox=fl.region.bounds(), clip_filter=False)
    with tracer.span("fused_stage") as sp:
        _noop(fused)
    out = {"index_pages.fused_stage_s": sp.duration}
    with tracer.span("twostage_stage") as sp:
        _noop(assign_cells(extract_points(pages)))
    out["index_pages.twostage_stage_s"] = sp.duration
    row = fused.agg(F.count("*").alias("n"),
                    F.sum(F.col("in_region").cast("long")).alias("k")
                    ).collect()[0]
    out["index_pages.in_region_ratio"] = row["k"] / row["n"]
    clipped = fl.clip()
    clipped.count()
    with tracer.span("idw") as sp:
        n_interp = fl.interpolate(clipped).count()
    clipped.unpersist()
    out["interpolate.idw_s"] = sp.duration
    out["_interp_cells"] = n_interp
    return out


def catalog(ss: wl.ServingSet, seed: int, host, tracer) -> dict:
    """the job path of one ingest batch: an incremental append to the raw
    table, then index_pages over the whole table, which commits a new
    snapshot of the point dataset; then Catalog.load of that snapshot.

    Spark is lazy, so the partitioned Catalog.write inside index_pages
    runs the whole plan (two-stage indexer, salted shuffle, files and
    manifest); catalog.write_s is the time of the index_pages call. The
    file figures are read from the manifest it committed."""
    from pyspark.sql import functions as F

    from osc_geo_h3grid_srv_spark.operators.incremental import (
        incremental_ingest)
    from osc_geo_h3grid_srv_spark.operators.index_pages import index_pages

    from . import inputs
    cat, spark = ss.engine.catalog, ss.engine.spark
    batch = inputs.pages_df(spark, INGEST_PAGES, seed, stream=3,
                            partitions=host.shuffle_partitions).cache()
    batch.count()
    with tracer.span("incremental_ingest") as sp:
        incremental_ingest(cat, batch, table="pages_raw",
                           batch_source=f"sweep-{seed}")
    batch.unpersist()
    out = {"incremental.ingest_s": sp.duration}

    with tracer.span("catalog_write") as sp:
        sid, _ = index_pages(cat, cat.load("pages_raw"),
                             dataset=wl.POINT_DATASET)
    if not wl.point_manifest_from_index_pages(ss):
        raise RuntimeError("point dataset HEAD was not written by "
                           "index_pages")
    man = cat.read_manifest(wl.POINT_DATASET, sid)
    out["catalog.write_s"] = sp.duration
    out["catalog.files_per_snapshot"] = len(man["files"])
    out["catalog.bytes_per_row"] = (sum(f["bytes"] for f in man["files"])
                                    / man["total_rows"])
    out["catalog.manifest_bytes"] = os.path.getsize(
        cat._manifest_path(wl.POINT_DATASET, sid))

    with tracer.span("catalog_load"):
        t_load, df = _median_time(lambda: cat.load(wl.POINT_DATASET),
                                  LOAD_REPS)
    out["catalog.load_s"] = t_load
    out["text.bad_coord_rows_indexed"] = df.filter(
        (F.abs("latitude") > 90) | (F.abs("longitude") > 180)).count()
    return out


def queries(ss: wl.ServingSet, seed: int, tracer) -> dict:
    """per route: API round trips (median), then the engine call split
    into plan (DataFrame returned, Catalog.load included) and exec
    (collect). The filter route's engine call is the correlator."""
    from osc_geo_h3grid_srv_spark.cli.common import df_payload
    rng = random.Random(f"layers-{seed}")
    out, rows_returned = {}, 0
    with tracer.span("queries"):
        for route in wl.ROUTES:
            req = wl.make_request(route, rng, ss)
            api = []
            for _ in range(API_REPS):
                with tracer.span(f"api.{route}") as sp:
                    wl.send(ss, req)
                api.append(sp.duration * 1e3)
            out[f"api.{route}.ms_p50"] = statistics.median(api)
            engine = []
            for _ in range(API_REPS if route == "filter" else 1):
                with tracer.span(f"plan.{route}") as plan:
                    df = wl.plan_request(ss, req)
                with tracer.span(f"exec.{route}") as run:
                    rows_returned += len(df_payload(df)["data"])
                engine.append((plan.duration * 1e3, run.duration * 1e3))
            if route == "filter":
                out["correlate.filter_ms_p50"] = statistics.median(
                    p + e for p, e in engine)
            else:
                out[f"queries.{route}.plan_ms"] = engine[0][0]
                out[f"queries.{route}.exec_ms"] = engine[0][1]
    out["_rows_returned"] = rows_returned
    return out


def sweep(fl: wl.Flagship, ss: wl.ServingSet, host, seed, tracer) -> dict:
    """every layer measurement except the event-log ones."""
    with tracer.span("layers"):
        out, kernel_core_s = kernels(fl)
        out.update(stages(fl, tracer))
        out.update(catalog(ss, seed, host, tracer))
        out.update(queries(ss, seed, tracer))
    out["_kernel_core_s"] = kernel_core_s
    return out


def _groups_under(tracer, span) -> set:
    kids: dict = {}
    for s in tracer.spans:
        kids.setdefault(s.parent_id, []).append(s)
    groups, todo = set(), [span]
    while todo:
        s = todo.pop()
        groups.add(s.group)
        todo += kids.get(s.span_id, [])
    return groups


def spark_metrics(log: EventLog, tracer, sweep_out: dict) -> dict:
    """task metrics of the sweep's spans, plus the layer ratios that
    need them."""
    root = tracer.find("layers")[-1]
    spans = {s.name: s for s in tracer.spans
             if s.parent_id == root.span_id}
    out = {"spark.gc_s": log.totals(_groups_under(tracer, root)).gc_s}
    for name in SPARK_SPANS:
        sp = spans[name]
        groups = _groups_under(tracer, sp)
        tot = log.totals(groups)
        vals = {f: getattr(tot, f) for f, _ in SPARK_FIELDS
                if f != "driver_remainder_s"}
        vals["driver_remainder_s"] = sp.duration - tot.busy_s(sp.start,
                                                              sp.end)
        for f, v in vals.items():
            out[f"spark.{name}.{f}"] = v
        if name == "fused_stage":
            out["index_pages.arrow_remainder_core_s"] = (
                tot.executor_run_s - sweep_out["_kernel_core_s"])
        elif name == "idw":
            cand = log.join_output_rows(groups)
            out["interpolate.candidate_rows"] = cand
            out["interpolate.keep_ratio"] = (
                sweep_out["_interp_cells"] * wl.IDW_K / cand)
        elif name == "queries":
            # only the engine calls whose rows _rows_returned counts
            engine = set().union(*(
                _groups_under(tracer, s) for s in tracer.spans
                if s.parent_id == sp.span_id
                and s.name.startswith(("plan.", "exec."))))
            out["queries.rows_read_per_row_returned"] = (
                log.totals(engine).input_records
                / max(1, sweep_out["_rows_returned"]))
    return out
