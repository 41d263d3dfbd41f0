"""Benchmark harness (driver-run per round; also the local feedback loop).

Runs the headline items at $SPARK_GRAFT_SF_DIR (default: the sf0.1
test data, see SF_DIR) on local[<host cores>] with a quarter of host
memory for the driver (perfbench.harness.HostShape) and prints ONE json
line: {"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec}, "sf": ..., "pages_per_sec": ...,
"scaling_efficiency": ...}.

Every timed item (the flagship, the 1M-asset correlator item and each
registry entry) runs REPS times through one rep loop; its timing is the
median and every rep is kept under "rep_secs". The flagship and the
correlator item get one untimed warm-up first.

The flagship measures the BASELINE.json north metric end to end:
deterministic pages -> extract_text -> geo anchors -> H3 cells res 0-9 ->
point-in-polygon clip -> IDW kNN interpolation onto res-5 cell centroids.

The flagship at local[cores] is the 4N level of the N -> 4N ladder
(BASELINE.json north rule: >= 0.8 throughput efficiency). The N level
(N = cores // 4) runs first, in a spawned child process, before this
process starts its own session, so no two JVMs are alive at once: same
session shape, same pages parquet, one untimed warm-up, REPS timed reps.
efficiency = median(4N) / (4 x median(N)); "scaling" keeps both levels'
reps and whether every rep gave the same (clipped, interp) pair. A host
with fewer than 4 cores, or a core count that is not a multiple of 4,
has no pair ending at local[cores]: "scaling_efficiency" is null and
"scaling" gives the reason.

Settings: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_PAGES (flagship pages) and
SPARK_GRAFT_ONLY=name1,name2 (time only those suite entries; such a
subset run launches no N level and does not write BENCH.json).
"""

from __future__ import annotations

import json
import multiprocessing
import os
import statistics
import sys
import time
from concurrent.futures import ProcessPoolExecutor

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

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


def ladder_levels(cores):
    """(N, 4N) with 4N = cores, or the reason this host has no N -> 4N
    pair that ends at the bench session's local[cores]."""
    if cores < 4 or cores % 4:
        return (f"no N -> 4N pair ends at local[{cores}]: the ladder needs "
                f"a multiple of 4 cores")
    return cores // 4, cores


def efficiency(pps_n, pps_4n) -> float:
    """throughput scaling efficiency from the per-rep pages/sec of the
    two levels: median(4N) / (4 x median(N))."""
    return statistics.median(pps_4n) / (4.0 * statistics.median(pps_n))


def identical_output(levels) -> bool:
    """True when every rep of every level gave the same (clipped,
    interp) pair."""
    return len({tuple(o) for lv in levels for o in lv["outputs"]}) == 1


def ladder_report(levels):
    """the "scaling" record of the two ladder levels (N first)."""
    for lv in levels:
        lv["pages_per_sec"] = [round(N_PAGES / s, 1) for s in lv["rep_secs"]]
        lv["median_pages_per_sec"] = statistics.median(lv["pages_per_sec"])
    n, n4 = levels
    return {"levels": {f"local{lv['cores']}": lv for lv in levels},
            "scaling_efficiency": round(efficiency(
                n["pages_per_sec"], n4["pages_per_sec"]), 3),
            "identical_output": identical_output(levels)}


def session(cores):
    """the one bench session shape: local[cores], the host's shuffle
    partitions (perfbench's rule) and driver memory. Both levels of the
    N -> 4N ladder run in it.

    The repo root goes first on PYTHONPATH before the JVM starts: Spark's
    Python workers import the package from there, not from this
    process's sys.path, wherever bench.py was started from."""
    path = os.environ.get("PYTHONPATH", "")
    if path.split(os.pathsep)[0] != ROOT:
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    from osc_geo_h3grid_srv_spark.engine import make_spark
    return make_spark(cores=cores, shuffle_partitions=HOST.shuffle_partitions,
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


def run_level(cores):
    """the flagship at local[cores] in this process's own session: one
    untimed warm-up, then REPS timed reps. Returns after the session's
    JVM has exited."""
    spark = session(cores)
    jvm = spark.sparkContext._gateway.proc
    pages_path = prepare_pages(spark, N_PAGES)
    # warm-up on the REAL input, untimed: spawns+imports the python worker
    # pool, JIT-compiles the exact generated code for this plan, and warms
    # the OS page cache -- all states a long-lived cluster executor holds
    _flagship_pipeline(spark, pages_path)
    secs, outs = time_reps(lambda: _flagship_pipeline(spark, pages_path))
    spark.stop()
    jvm.stdin.close()  # the JVM exits on EOF of its stdin
    jvm.wait()
    return {"cores": cores, "rep_secs": secs, "outputs": outs}


def _spawn_level(cores):
    """run_level(cores) in a spawned child process: its own JVM and
    Python worker pool, gone when this returns."""
    with ProcessPoolExecutor(
            max_workers=1,
            mp_context=multiprocessing.get_context("spawn")) as pool:
        return pool.submit(run_level, cores).result()


def _force(df):
    # noop sink (round 4): count() is NOT a valid forcing function
    # — Catalyst rewrites it to an empty-schema scan, pruning the
    # entire projection of map-only queries (span dedup, normalize,
    # quality scores measured near-constant at any scale). The noop
    # sink computes every column of every row and discards. Suite
    # timings from r4 on are therefore honest but NOT comparable to
    # the count()-forced r1-r3 rows; extras["sink"] records this.
    df.write.format("noop").mode("overwrite").save()


def main():
    t_start = time.time()
    # local feedback loop: SPARK_GRAFT_ONLY=name1,name2 times just those
    # suite entries (a probe; a run without it times everything); such a
    # probe writes no BENCH.json, so it launches no N level
    only = os.environ.get("SPARK_GRAFT_ONLY")
    pair = "subset run (SPARK_GRAFT_ONLY)" if only else ladder_levels(CPUS)
    # the ladder's N level runs before this process starts its JVM
    n_level = None if isinstance(pair, str) else _spawn_level(pair[0])
    spark = session(CPUS)
    import __spark_entry__ as em

    timings = {}
    extras = {}
    rep_secs = {}

    def run(name, fn, warmup=False):
        # the DataFrame lineage is rebuilt per call (fn() reconstructs
        # the plan from the parquet scan), so no materialized-shuffle
        # reuse carries over between reps; returns every rep's output
        if warmup:
            fn()
        secs, outs = time_reps(fn)
        timings[name] = statistics.median(secs)
        rep_secs[name] = secs
        return outs

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
    flagship_outs = run("flagship_index_pip_idw",
                        lambda: _flagship_pipeline(spark, pages_path))
    n_clip, n_interp = flagship_outs[-1]
    extras["flagship_rep_secs"] = rep_secs["flagship_index_pip_idw"]
    extras["flagship_pages"] = N_PAGES
    extras["flagship_clipped_points"] = n_clip
    extras["flagship_interp_cells"] = n_interp
    extras["pages_per_sec"] = round(
        N_PAGES / timings["flagship_index_pip_idw"], 1)
    if n_level is None:
        extras["scaling"] = {"scaling_efficiency": None, "reason": pair}
    else:
        extras["scaling"] = ladder_report([n_level, {
            "cores": CPUS, "rep_secs": rep_secs["flagship_index_pip_idw"],
            "outputs": flagship_outs}])
    extras["scaling_efficiency"] = extras["scaling"]["scaling_efficiency"]

    # the reference's largest shipped workload: 1,000,000 assets through
    # filter-assets (docs/README-geospatial.md:333-360, single-process
    # pandas + in-memory DuckDB there) — here the production path,
    # correlate(): every resolution's cell columns, broadcast equi-join
    # at res 7, NULL-pass filter. The flood-like h3 dataset (res-7 cells
    # covering the box) is loaded UNTIMED into a scratch warehouse (the
    # reference's filter-assets reads an already-loaded dataset)
    import tempfile

    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from osc_geo_h3grid_srv_spark.engine import GeoMeshEngine
    from osc_geo_h3grid_srv_spark.functions import geo as geomod
    from osc_geo_h3grid_srv_spark.functions import h3core
    from osc_geo_h3grid_srv_spark.operators.correlate import correlate
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
        .otherwise(F.col("flood_risk_mean")))
    warehouse = tempfile.TemporaryDirectory(prefix="bench_warehouse_")
    eng = GeoMeshEngine(spark, warehouse.name)
    eng.load_dataset_from_df(
        "flood_1m", ds_1m, dataset_type="h3",
        key_columns={"h3_cell": "VARCHAR"},
        value_columns={"flood_risk_mean": "DOUBLE"})
    flood_specs = [{"name": "flood_1m", "filters": [
        {"column": "flood_risk_mean", "filter_type": "greater_than",
         "target_value": 5.0}]}]

    def assets_1m():
        n = 1_000_000
        return spark.range(0, n, 1, CPUS * 2).select(
            F.col("id"),
            ((F.col("id") * 9301 + 49297) % 800000 / 100000.0 + 47.0)
            .alias("lat"),
            ((F.col("id") * 7927 + 1237) % 900000 / 100000.0 + 6.0)
            .alias("long"))

    def correlator_1m():
        return correlate(eng.catalog, assets_1m(), flood_specs)

    # warm-up: worker pool for the all-resolution cell pass
    run("correlator_1m_assets", lambda: _force(correlator_1m()),
        warmup=True)
    extras["correlator_1m_rep_secs"] = rep_secs["correlator_1m_assets"]
    extras["correlator_1m_matched"] = correlator_1m().count()
    warehouse.cleanup()

    # operator queries (shared with the correctness gate): every
    # queries() entry in registry order, unless _BENCH_SKIP names it
    # with a reason
    qs = em.queries()
    _BENCH_SKIP = {
        "pages_index_pipeline": "IS the flagship pipeline — already "
                                "measured as flagship_index_pip_idw",
    }
    heads = [n for n in qs if n not in _BENCH_SKIP]

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
        "pages_per_sec", "scaling_efficiency", "flagship_pages",
        "flagship_rep_secs",
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
