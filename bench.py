"""Benchmark harness (driver-run per round; also the local feedback loop).

Runs the headline items at $SPARK_GRAFT_SF_DIR (default: the sf0.1
test data, see SF_DIR) on local[<host cores>] with a quarter of host
memory for the driver (perfbench.harness.HostShape) and prints ONE json
line: {"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec}, "sf": ..., "pages_per_sec": ...}.

Every timed item (the flagship, the two 1M-asset correlator items and
each registry entry) runs REPS times through one rep loop; its timing is
the median and every rep is kept under "rep_secs". The flagship and the
correlator items get one untimed warm-up first.

The flagship measures the BASELINE.json north metric end to end:
deterministic pages -> extract_text -> geo anchors -> H3 cells res 0-9 ->
point-in-polygon clip -> IDW kNN interpolation onto res-5 cell centroids.

Settings: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_PAGES (flagship pages) and
SPARK_GRAFT_ONLY=name1,name2 (time only those suite entries; such a
subset run does not write BENCH.json).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.harness import HostShape  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HOST = HostShape.detect()
CPUS = HOST.cores
# pages scale: 1M pages at sf0.1 — large enough that the flagship's
# fixed per-job floor (~2-4s of stage scheduling) is amortized and the
# measured pages/sec reflects pipeline throughput, small enough that
# generation (untimed) stays under ~30s
_SF = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.1
N_PAGES = int(os.environ.get("SPARK_GRAFT_PAGES", str(int(10_000_000 * _SF))))
# timed reps per item; the recorded timing is their median
REPS = 3


def time_reps(fn):
    """REPS timed calls of fn: (wall seconds per call, outputs)."""
    secs, outs = [], []
    for _ in range(REPS):
        t0 = time.time()
        outs.append(fn())
        secs.append(round(time.time() - t0, 3))
    return secs, outs


def session(cores):
    """the one bench session shape: local[cores], max(2 x cores, 32)
    shuffle partitions, the host's driver memory. bench.py and every
    level of the N -> 4N ladder (tools/bench_scaling.py) run in it."""
    from osc_geo_h3grid_srv_spark.engine import make_spark
    return make_spark(cores=cores, shuffle_partitions=max(cores * 2, 32),
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.driver.memory":
                                      f"{HOST.driver_memory_mb}m"})


def prepare_pages(spark, n_pages):
    """materialize the deterministic pages table once (data prep, not part
    of the measured pipeline - production reads pages from the lake)."""
    from osc_geo_h3grid_srv_spark.sources.pages import (
        PAGES_VERSION, pages_dataframe)
    path = f"/tmp/spark_graft_pages_v{PAGES_VERSION}_{n_pages}.parquet"
    if not os.path.exists(path + "/_SUCCESS"):
        pages_dataframe(spark, n_pages, partitions=CPUS * 2) \
            .write.mode("overwrite").parquet(path)
    return path


def _flagship_pipeline(spark, pages_path):
    """returns (clipped_count, interpolated_count) after full compute.

    Single fused Python stage (extract + assign res0-9 + PIP flag); all
    downstream work (clip filter, parent rollup, IDW join) is JVM-side.
    """
    from pyspark.sql import functions as F

    from osc_geo_h3grid_srv_spark.functions import geo
    from osc_geo_h3grid_srv_spark.operators.index_pages import (
        extract_index_clip)
    from osc_geo_h3grid_srv_spark.operators.interpolate import idw_interpolate

    pages = spark.read.parquet(pages_path)
    # Germany-like region with a hole (broadcast polygons)
    shell = [(47.0, 5.5), (47.0, 15.5), (55.5, 15.5), (55.5, 5.5)]
    hole = [(49.0, 8.0), (49.0, 9.0), (50.0, 9.0), (50.0, 8.0)]
    pp = geo.PackedPolygons.from_latlng_rings([[shell, hole]], ["germany"])
    bc = spark.sparkContext.broadcast(pp.to_arrays())
    pts = extract_index_clip(pages, max_res=9, parent_res=1, packed_bc=bc,
                             bbox=pp.bounds(), clip_filter=False)
    clipped = pts.filter(F.col("in_region")).cache()
    n_clip = clipped.count()

    # IDW kNN (k=3, power=2) of a per-point value onto the REGION's
    # res-5 cell grid (the reference loader interpolates onto the
    # region's cells, not just populated ones). The grid comes from the
    # driver-side kernel polyfill (~1 ms for ~10^3 cells) — round 1
    # derived it with distinct+coalesce(1) over the data, which added a
    # serial micro-job to every run.
    import pandas as pd

    from osc_geo_h3grid_srv_spark.functions import h3core
    grid = geo.polyfill(pp, 5)
    gla, glo = h3core.cell_to_latlng(grid)
    cells = spark.createDataFrame(pd.DataFrame({
        "h3_cell": h3core.cell_to_string(grid),
        "latitude": gla, "longitude": glo}))
    pts_v = clipped.select(
        "latitude", "longitude",
        (F.xxhash64("url") % 1000).cast("double").alias("value"))
    # region-bounded res-5 grid, broadcast to one Arrow pass over the
    # points
    interp = idw_interpolate(cells, pts_v, "value", k=3, power=2.0,
                             max_dist_km=60.0)
    n_interp = interp.count()
    clipped.unpersist()
    return n_clip, n_interp


def main():
    t_start = time.time()
    spark = session(CPUS)
    import __spark_entry__ as em

    timings = {}
    extras = {}
    rep_secs = {}

    def run(name, fn, warmup=False):
        # the DataFrame lineage is rebuilt per call (fn() reconstructs
        # the plan from the parquet scan), so no materialized-shuffle
        # reuse carries over between reps; returns the last rep's output
        if warmup:
            fn()
        secs, outs = time_reps(fn)
        timings[name] = statistics.median(secs)
        rep_secs[name] = secs
        return outs[-1]

    # north-metric flagship (pages materialized untimed: production reads
    # the pages table from the lake; the metric is indexing throughput)
    t0 = time.time()
    pages_path = prepare_pages(spark, N_PAGES)
    extras["pages_prep_sec"] = round(time.time() - t0, 3)

    # warm the python workers (spawn + kernel imports) and the codegen/JIT
    # for the exact measured plan, untimed - a real cluster's executors
    # are long-lived and its generated code is compiled once
    t0 = time.time()
    _flagship_pipeline(spark, pages_path)
    extras["warmup_sec"] = round(time.time() - t0, 3)
    n_clip, n_interp = run("flagship_index_pip_idw",
                           lambda: _flagship_pipeline(spark, pages_path))
    extras["flagship_rep_secs"] = rep_secs["flagship_index_pip_idw"]
    extras["flagship_pages"] = N_PAGES
    extras["flagship_clipped_points"] = n_clip
    extras["flagship_interp_cells"] = n_interp
    extras["pages_per_sec"] = round(
        N_PAGES / timings["flagship_index_pip_idw"], 1)

    # the reference's largest shipped workload: 1,000,000 assets through
    # filter-assets (docs/README-geospatial.md:333-360, single-process
    # pandas + in-memory DuckDB there) — here: distributed cell
    # assignment at res 7 + broadcast equi-join + NULL-pass filter
    # flood-like h3 dataset prep, UNTIMED (the reference's filter-assets
    # reads an already-loaded dataset): res-7 cells covering the box
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from osc_geo_h3grid_srv_spark.functions import geo as geomod
    from osc_geo_h3grid_srv_spark.functions import h3core
    shell1m = [(47.0, 6.0), (47.0, 15.0), (55.0, 15.0), (55.0, 6.0)]
    pp1m = geomod.PackedPolygons.from_latlng_rings([[shell1m]], ["box"])
    cells1m = h3core.cell_to_string(geomod.polyfill(pp1m, 7))
    idx = np.arange(len(cells1m))
    ds_1m = spark.createDataFrame(pd.DataFrame({
        "h3_cell": cells1m,
        "flood_risk_mean": np.where(idx % 11 == 0, np.nan,
                                    (idx % 100) / 10.0)}))
    ds_1m = ds_1m.withColumn(
        "flood_risk_mean",
        F.when(F.isnan("flood_risk_mean"), None)
        .otherwise(F.col("flood_risk_mean"))).cache()
    ds_1m.count()

    def assets_1m():
        n = 1_000_000
        return spark.range(0, n, 1, CPUS * 2).select(
            F.col("id"),
            ((F.col("id") * 9301 + 49297) % 800000 / 100000.0 + 47.0)
            .alias("lat"),
            ((F.col("id") * 7927 + 1237) % 900000 / 100000.0 + 6.0)
            .alias("long"))

    def correlator_1m():
        from osc_geo_h3grid_srv_spark.functions.spark_udfs import (
            make_latlng_to_cell)
        to7 = make_latlng_to_cell(7)
        assets = assets_1m().withColumn(
            "cell_7",
            F.lower(F.hex(to7(F.col("lat"), F.col("long")))))
        j = assets.join(F.broadcast(ds_1m),
                        assets.cell_7 == ds_1m.h3_cell, "inner")
        j = j.filter((F.col("flood_risk_mean") > 5.0)
                     | F.col("flood_risk_mean").isNull())
        return j.count()

    # warm-up: worker pool for the res-7 UDF
    extras["correlator_1m_matched"] = run(
        "correlator_1m_assets", correlator_1m, warmup=True)
    extras["correlator_1m_rep_secs"] = rep_secs["correlator_1m_assets"]

    # all-16-resolution cell assignment on 1M assets (the correlator's
    # _add_cells surface, VERDICT r01 next-step #5): one mapInPandas pass
    # sharing the spherical projection across resolutions, against the
    # round-1 16-independent-UDF plan's 1.884s (32-vCPU host)
    def correlate_allres_1m():
        from osc_geo_h3grid_srv_spark.operators.correlate import (
            add_cell_columns)
        a = add_cell_columns(assets_1m())
        return a.select(F.max(F.xxhash64(
            *[f"cell_{r}" for r in range(16)]))).collect()

    run("correlate_allres_1m", correlate_allres_1m, warmup=True)
    extras["correlate_allres_1m_rep_secs"] = rep_secs["correlate_allres_1m"]
    extras["correlate_allres_16udf_baseline_sec"] = 1.884

    # operator queries (shared with the correctness gate): every
    # queries() entry in registry order, unless _BENCH_SKIP names it
    # with a reason
    qs = em.queries()
    _BENCH_SKIP = {
        "pages_index_pipeline": "IS the flagship pipeline — already "
                                "measured as flagship_index_pip_idw",
    }
    heads = [n for n in qs if n not in _BENCH_SKIP]

    def _force(df):
        # noop sink (round 4): count() is NOT a valid forcing function
        # — Catalyst rewrites it to an empty-schema scan, pruning the
        # entire projection of map-only queries (span dedup, normalize,
        # quality scores measured near-constant at any scale). The noop
        # sink computes every column of every row and discards. Suite
        # timings from r4 on are therefore honest but NOT comparable to
        # the count()-forced r1-r3 rows; extras["sink"] records this.
        df.write.format("noop").mode("overwrite").save()

    # local feedback loop: SPARK_GRAFT_ONLY=name1,name2 times just those
    # suite entries (never set by the driver — default output unchanged)
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        heads = [n for n in heads if n in set(only.split(","))]
    for name in heads:
        run(name, lambda f=qs[name]: _force(f(spark, SF_DIR)))

    extras["sink"] = "noop"
    extras["rep_secs"] = rep_secs
    total = round(sum(timings.values()), 3)
    # HEADLINE SCALARS FIRST, bulky per-query dicts LAST: the driver
    # captures the tail of stdout, and BENCH_r03.json lost value/
    # pages_per_sec/flagship to front-truncation of this one line
    # (VERDICT r3 What's-wrong #2). Also persist the full record to
    # BENCH.json at the repo root so no capture window can eat it.
    headline_keys = [
        "pages_per_sec", "flagship_pages", "flagship_rep_secs",
        "flagship_clipped_points", "flagship_interp_cells",
        "correlator_1m_rep_secs", "correlator_1m_matched",
        "pages_prep_sec", "warmup_sec",
    ]
    record = {
        "metric": "H3-indexed pages/sec (cell assign + PIP + kNN "
                  "interpolate) + operator suite; median of %d reps per "
                  "item" % REPS,
        "value": total,
        "unit": "sec",
        "sf": _SF,
        "cpus": CPUS,
        "driver_memory_mb": HOST.driver_memory_mb,
        "reps": REPS,
        "flagship_sec": timings.get("flagship_index_pip_idw"),
        **{k: extras[k] for k in headline_keys if k in extras},
        "wall_total": round(time.time() - t_start, 3),
        "queries": timings,
        **{k: v for k, v in extras.items() if k not in headline_keys},
    }
    out = json.dumps(record)
    if not only:
        # subset runs (SPARK_GRAFT_ONLY) are local feedback probes —
        # never let them clobber the full-suite BENCH.json artifact
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH.json"), "w") as fh:
            fh.write(out + "\n")
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
