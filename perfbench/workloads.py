"""The benchmark's workloads.

flagship   repeated passes of pages -> fused anchor extraction + H3
           res 0-9 + point-in-polygon flag -> clip and cache -> IDW kNN
           onto the region's res-5 grid. Batch throughput of the north
           metric; it never touches the catalog or the query operators.
query_mix  one closed-loop client sends cycles of requests, one of every
           query route of api.GeoMeshService in a seeded order, to two
           datasets:
           the reference's h3 flood fixture and a point dataset written
           in set-up by the job path (incremental_ingest, then
           index_pages). Serving latency; almost no kernel work.

A workload offers set-up (repeatable, timed), an untimed warm-up, one
timed operation, and a verification that runs outside the timed window.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import numpy as np

from . import inputs
from .oracle import DuckOracle, idw_bounds, row_set

FLAGSHIP_PAGES = 40_000
SERVE_PAGES = 2_000
IDW_K, IDW_POWER, IDW_MAX_KM = 3, 2.0, 60.0
IDW_CHECK_CELLS = 40
WARMUP_PASSES = 2

GEO, POINT = "/api/geomesh", "/api/datasets/point"
H3_DATASET, POINT_DATASET = "flood_0010y", "page_points"
ROUTES = {
    "latlong_radius": f"{GEO}/latlong/radius/{{dataset}}",
    "latlong_point": f"{GEO}/latlong/point/{{dataset}}",
    "cell_radius": f"{GEO}/cell/radius/{{dataset}}",
    "cell_point": f"{GEO}/cell/point/{{dataset}}",
    "shapefile": f"{GEO}/shapefile/{{dataset}}",
    "point_latlong_radius": f"{POINT}/latlong/radius/{{dataset}}",
    "point_cell_radius": f"{POINT}/cell/radius/{{dataset}}",
    "point_cell_point": f"{POINT}/cell/point/{{dataset}}",
    "point_shapefile": f"{POINT}/shapefile/{{dataset}}",
    "filter": f"{GEO}/filter",
}
FILTER_ASSETS = 100


@dataclass
class OpResult:
    """what one timed operation produced: work items, whether its output
    matched what it must equal, and what verification may re-check."""

    items: int
    ok: bool
    detail: dict = field(default_factory=dict)


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

class Flagship:
    name = "flagship"
    setup_reps = 2
    unit = 1  # operations between deadline checks
    repeat = 1  # passes are alike; nothing to repeat

    def __init__(self, spark, host, work, seed, tracer):
        self.spark, self.host, self.work = spark, host, work
        self.seed, self.tracer = seed, tracer
        self.expected = None

    def setup(self, rep: int):
        """generate the pages, the clip region and its res-5 grid."""
        import pandas as pd

        from osc_geo_h3grid_srv_spark.functions import geo, h3core
        self.pages_path = inputs.write_pages(
            self.spark, os.path.join(self.work.path, f"pages-{rep}"),
            FLAGSHIP_PAGES, self.seed, stream=0,
            partitions=self.host.shuffle_partitions)
        self.region = inputs.flagship_region()
        self.region_bc = self.spark.sparkContext.broadcast(
            self.region.to_arrays())
        grid = geo.polyfill(self.region, 5)
        glat, glng = h3core.cell_to_latlng(grid)
        self.grid_pdf = pd.DataFrame({
            "h3_cell": h3core.cell_to_string(grid),
            "latitude": glat, "longitude": glng})
        self.grid = self.spark.createDataFrame(self.grid_pdf)

    def clip(self):
        from pyspark.sql import functions as F

        from osc_geo_h3grid_srv_spark.operators.index_pages import (
            extract_index_clip)
        pages = self.spark.read.parquet(self.pages_path)
        pts = extract_index_clip(pages, max_res=9, parent_res=1,
                                 packed_bc=self.region_bc,
                                 bbox=self.region.bounds(),
                                 clip_filter=False)
        return pts.filter(F.col("in_region")).cache()

    def points(self, clipped):
        from pyspark.sql import functions as F
        return clipped.select(
            "latitude", "longitude",
            (F.xxhash64("url") % 1000).cast("double").alias("value"))

    def interpolate(self, clipped):
        from osc_geo_h3grid_srv_spark.operators.interpolate import (
            idw_interpolate)
        return idw_interpolate(self.grid, self.points(clipped), "value",
                               k=IDW_K, power=IDW_POWER,
                               max_dist_km=IDW_MAX_KM, broadcast_cells=True)

    def _pass(self):
        with self.tracer.span("index_clip"):
            clipped = self.clip()
            n_clip = clipped.count()
        with self.tracer.span("idw"):
            n_interp = self.interpolate(clipped).count()
        clipped.unpersist()
        return n_clip, n_interp

    def warmup(self):
        """passes until generated code and caches have settled."""
        for _ in range(WARMUP_PASSES):
            self.expected = self._pass()

    def op(self, i: int) -> OpResult:
        with self.tracer.span("pass", i=i):
            counts = self._pass()
        return OpResult(FLAGSHIP_PAGES, counts == self.expected)

    def verify(self, results, extra=()) -> list[dict]:
        """one more pass, collected: its counts must equal the timed
        passes', and the IDW values of a seeded sample of grid cells must
        equal a brute-force kNN over the collected clip."""
        clipped = self.clip()
        pts = self.points(clipped).toPandas()
        interp = self.interpolate(clipped).toPandas()
        clipped.unpersist()
        checks = [{"check": "pass_counts",
                   "ok": (len(pts), len(interp)) == self.expected,
                   "expected": self.expected,
                   "got": [len(pts), len(interp)]}]
        p_lat = pts["latitude"].to_numpy()
        p_lng = pts["longitude"].to_numpy()
        p_val = pts["value"].to_numpy()
        got = interp.set_index("h3_cell")
        rng = random.Random(f"idw-{self.seed}")
        sample = rng.sample(range(len(self.grid_pdf)),
                            min(IDW_CHECK_CELLS, len(self.grid_pdf)))
        bad = []
        for j in sample:
            cell = self.grid_pdf.iloc[j]
            want = idw_bounds(cell.latitude, cell.longitude, p_lat, p_lng,
                              p_val, IDW_K, IDW_POWER, IDW_MAX_KM)
            if want is None:
                if cell.h3_cell in got.index:
                    bad.append(cell.h3_cell)
                continue
            lo, hi, n = want
            if cell.h3_cell not in got.index:
                bad.append(cell.h3_cell)
                continue
            row = got.loc[cell.h3_cell]
            tol = 1e-9 * max(1.0, abs(hi))
            if not (lo - tol <= row["value"] <= hi + tol
                    and int(row["n_neighbors"]) == n):
                bad.append(cell.h3_cell)
        checks.append({"check": "idw_sample", "ok": not bad,
                       "cells": len(sample), "mismatched": bad})
        return checks

    def e2e(self, samples) -> dict:
        return {"throughput_per_s": [s.result.items / s.latency_s
                                     for s in samples],
                "latency_ms": [s.latency_s * 1e3 for s in samples]}


# --------------------------------------------------------------------------
# serving set: the two datasets the query routes read
# --------------------------------------------------------------------------

@dataclass
class ServingSet:
    engine: object
    service: object
    regions_path: str
    region_names: list
    flood_cells: np.ndarray
    flood_lat: np.ndarray
    flood_lng: np.ndarray
    ingest_s: float = 0.0
    index_s: float = 0.0


def build_serving(spark, host, root: str, seed: int, stream: int,
                  n_pages: int = SERVE_PAGES) -> ServingSet:
    """fresh catalog under `root`: generated pages appended to a raw
    table by incremental_ingest, indexed into the point dataset by
    index_pages (the spark-submit job path), plus the reference's h3
    flood fixture loaded with load_dataset_from_df."""
    import time

    import pandas as pd

    from osc_geo_h3grid_srv_spark.api import GeoMeshService
    from osc_geo_h3grid_srv_spark.engine import GeoMeshEngine
    from osc_geo_h3grid_srv_spark.operators.incremental import (
        incremental_ingest)
    from osc_geo_h3grid_srv_spark.operators.index_pages import index_pages

    from .harness import FLOOD_FIXTURE
    pages_path = inputs.write_pages(
        spark, os.path.join(root, "pages"), n_pages, seed, stream,
        partitions=host.shuffle_partitions)
    eng = GeoMeshEngine(spark, os.path.join(root, "catalog"))
    t0 = time.perf_counter()
    incremental_ingest(eng.catalog, spark.read.parquet(pages_path),
                       table="pages_raw", batch_source=f"seed-{seed}")
    t1 = time.perf_counter()
    index_pages(eng.catalog, eng.catalog.load("pages_raw"),
                dataset=POINT_DATASET)
    t2 = time.perf_counter()
    flood = pd.read_parquet(FLOOD_FIXTURE)
    eng.load_dataset_from_df(
        H3_DATASET, spark.createDataFrame(flood), dataset_type="h3_index",
        key_columns={"h3_cell": "VARCHAR"},
        value_columns={
            "flood_risk_min": "REAL", "flood_risk_max": "REAL",
            "flood_risk_median": "REAL", "flood_risk_mean": "REAL",
            "latitude": "REAL", "longitude": "REAL",
            "scenario": "VARCHAR", "risk_window": "VARCHAR",
            "date_range": "VARCHAR"},
        description="tu_delft flood 0010y (reference example data)")
    regions_path = os.path.join(root, "regions.geojson")
    names = inputs.write_regions(regions_path, seed)
    return ServingSet(eng, GeoMeshService(eng), regions_path, names,
                      flood["h3_cell"].to_numpy(),
                      flood["latitude"].to_numpy(np.float64),
                      flood["longitude"].to_numpy(np.float64),
                      ingest_s=t1 - t0, index_s=t2 - t1)


def point_manifest_from_index_pages(ss: ServingSet) -> bool:
    """the point dataset's HEAD snapshot was committed by index_pages,
    partitioned by the res-1 parent cell."""
    man = ss.engine.catalog.read_manifest(POINT_DATASET)
    return (man["lineage"].get("stage") == "index_pages"
            and man["partition_by"] == ["p1"] and len(man["files"]) > 0)


# --------------------------------------------------------------------------
# query requests
# --------------------------------------------------------------------------

def _cell(lat, lng, res) -> str:
    from osc_geo_h3grid_srv_spark.functions import h3core
    return str(h3core.cell_to_string(h3core.latlng_to_cell(
        np.array([lat]), np.array([lng]), res))[0])


def make_request(route: str, rng: random.Random, ss: ServingSet) -> dict:
    """one request of `route` with seeded arguments; centres are drawn
    from the page clusters (for the flood dataset, from the clusters
    inside its extent; its cell lookups snap to the nearest flood
    cell)."""
    from osc_geo_h3grid_srv_spark.sources.pages import CITY_CENTERS
    cities = CITY_CENTERS.tolist()
    req = {"route": route, "path": ROUTES[route]}
    if route == "filter":
        assets = []
        for a in range(FILTER_ASSETS):
            lat, lng = inputs.city_point(rng, inputs.FLOOD_CITIES)
            assets.append({"id": f"a{a}", "lat": lat, "long": lng})
        thr = round(rng.uniform(0.2, 1.5), 3)
        req.update(dataset=None, assets=assets, threshold=thr, body={
            "assets": assets,
            "datasets": [{"name": H3_DATASET, "filters": [
                {"column": "flood_risk_mean",
                 "filter_type": "greater_than", "target_value": thr}]}]})
        return req
    if route.startswith("point_"):
        req["dataset"] = POINT_DATASET
        lat, lng = inputs.city_point(rng, cities)
    else:
        req["dataset"] = H3_DATASET
        lat, lng = inputs.city_point(rng, inputs.FLOOD_CITIES)
        j = int(np.argmin((ss.flood_lat - lat) ** 2
                          + (ss.flood_lng - lng) ** 2))
        if route in ("latlong_point", "cell_point"):
            lat, lng = float(ss.flood_lat[j]), float(ss.flood_lng[j])
    if route in ("latlong_radius", "point_latlong_radius"):
        body = {"latitude": lat, "longitude": lng,
                "radius": round(rng.uniform(1.5, 12.0), 3)}
        if route == "latlong_radius":
            body["resolution"] = 7
    elif route == "latlong_point":
        body = {"latitude": lat, "longitude": lng, "resolution": 7}
    elif route in ("cell_radius", "point_cell_radius"):
        body = {"cell": _cell(lat, lng, 7),
                "radius": round(rng.uniform(1.5, 12.0), 3)}
    elif route == "cell_point":
        body = {"cell": str(ss.flood_cells[j])}
    elif route == "point_cell_point":
        body = {"cell": _cell(lat, lng, rng.choice((5, 6, 7)))}
    else:  # shapefile routes; h3 regions are the even (flood-city) ones
        names = (ss.region_names[::2] if route == "shapefile"
                 else ss.region_names)
        body = {"shapefile": ss.regions_path, "region": rng.choice(names)}
        if route == "shapefile":
            body["resolution"] = 7
    req["body"] = body
    return req


def request_cycle(rng: random.Random, ss: ServingSet) -> list[dict]:
    """one request of every route, in a seeded order: the benchmark makes
    no claim about the proportions of real traffic."""
    routes = list(ROUTES)
    rng.shuffle(routes)
    return [make_request(r, rng, ss) for r in routes]


def send(ss: ServingSet, req: dict) -> dict:
    return ss.service.post(req["path"], req["dataset"], req["body"])


def plan_request(ss: ServingSet, req: dict):
    """the engine call the route's handler makes, without the argument
    models or the collect: returns the request's DataFrame."""
    from osc_geo_h3grid_srv_spark.cli.common import load_polygons
    eng, b, ds, route = ss.engine, req["body"], req["dataset"], req["route"]
    if route == "filter":
        adf = eng.spark.createDataFrame(
            [(a["id"], a["lat"], a["long"]) for a in req["assets"]],
            "id string, lat double, long double")
        return eng.correlate(adf, b["datasets"])
    if route.endswith("latlong_radius"):
        return eng.radius(ds, b["latitude"], b["longitude"], b["radius"],
                          resolution=b.get("resolution", 3))
    if route == "latlong_point":
        return eng.latlong_point(ds, b["latitude"], b["longitude"],
                                 resolution=b["resolution"])
    if route.endswith("cell_radius"):
        return eng.cell_radius(ds, b["cell"], b["radius"])
    if route.endswith("cell_point"):
        return eng.cell_point(ds, b["cell"])
    return eng.shapefile_get(ds, load_polygons(b["shapefile"]),
                             region=b["region"],
                             resolution=b.get("resolution", 7))


def check_request(oracle: DuckOracle, ss: ServingSet, req: dict,
                  payload: dict) -> bool:
    """the payload's row set equals the oracle's over the same files."""
    from osc_geo_h3grid_srv_spark.functions import geo, h3core
    route, body, ds = req["route"], req["body"], req["dataset"]
    cols = payload["columns"]
    if route == "filter":
        want_cols = ["id", "h3_cell", "flood_risk_mean", "latitude",
                     "longitude"]
        idx = [cols.index(c) for c in want_cols]
        got = row_set([[r[i] for i in idx] for r in payload["data"]])
        cells7 = [_cell(a["lat"], a["long"], 7) for a in req["assets"]]
        return got == oracle.correlate(H3_DATASET, req["assets"], cells7,
                                       "flood_risk_mean", req["threshold"])
    got = row_set(payload["data"])
    if "radius" in body:
        if "cell" in body:
            c = h3core.string_to_cell(np.array([body["cell"]]))
            la, lo = h3core.cell_to_latlng(c)
            lat, lng = float(la[0]), float(lo[0])
        else:
            lat, lng = body["latitude"], body["longitude"]
        want = oracle.radius(ds, cols, lat, lng, body["radius"])
    elif route == "latlong_point":
        want = oracle.equals(ds, cols, "h3_cell", _cell(
            body["latitude"], body["longitude"], body["resolution"]))
    elif route == "cell_point":
        want = oracle.equals(ds, cols, "h3_cell", body["cell"])
    elif route == "point_cell_point":
        res = int(h3core.get_resolution(
            h3core.string_to_cell(np.array([body["cell"]])))[0])
        want = oracle.equals(ds, cols, f"res{res}", body["cell"])
    else:
        pp = geo.PackedPolygons.from_geojson(body["shapefile"]).filter_name(
            body["region"])
        if route == "shapefile":
            cells = h3core.cell_to_string(geo.polyfill(
                pp, 7, buffer_deg=geo.get_buffer_deg(7)))
            want = oracle.cells_in(ds, cols, list(cells))
        else:
            want = oracle.points_in_polygons(ds, cols, pp)
    return got == want


class QueryMix:
    name = "query_mix"
    # one set-up: a second index_pages build would cost an eighth of the
    # run; session start, the larger part of setup_s, happens once anyway
    setup_reps = 1
    unit = len(ROUTES)  # whole cycles keep the mix fixed
    repeat = 1  # times each request is sent in a row

    def __init__(self, spark, host, work, seed, tracer):
        self.spark, self.host, self.work = spark, host, work
        self.seed, self.tracer = seed, tracer
        self.rng = random.Random(f"query-mix-{seed}")
        self.queue: list[dict] = []

    def setup(self, rep: int):
        self.ss = build_serving(self.spark, self.host,
                                os.path.join(self.work.path, f"serve-{rep}"),
                                self.seed, stream=1)

    def readback(self) -> tuple[dict, dict, float]:
        """the first request after the index_pages commit: a point-radius
        read of the fresh snapshot."""
        import time
        req = make_request("point_latlong_radius", self.rng, self.ss)
        t0 = time.perf_counter()
        payload = send(self.ss, req)
        return req, payload, time.perf_counter() - t0

    def warmup(self):
        """one request of every route (plan shapes) but the read-back's,
        which already ran."""
        for route in ROUTES:
            if route != "point_latlong_radius":
                send(self.ss, make_request(route, self.rng, self.ss))

    def op(self, i: int) -> OpResult:
        if not self.queue:
            self.queue = [r for r in request_cycle(self.rng, self.ss)
                          for _ in range(self.repeat)]
        req = self.queue.pop(0)
        with self.tracer.span("request", route=req["route"]):
            payload = send(self.ss, req)
        return OpResult(1, True, {"request": req, "payload": payload})

    def verify(self, results, extra=()) -> list[dict]:
        """DuckDB row sets for one seeded request of every route, the
        read-back, and the point dataset's lineage."""
        by_route: dict[str, list[int]] = {}
        for i, r in enumerate(results):
            if r is not None:
                by_route.setdefault(r.detail["request"]["route"],
                                    []).append(i)
        rng = random.Random(f"verify-{self.seed}")
        picks = []
        for route in sorted(by_route):
            j = rng.choice(by_route[route])
            picks.append((results[j].detail["request"],
                          results[j].detail["payload"], j))
        picks += [(req, payload, None) for req, payload in extra]
        oracle = DuckOracle(self.ss.engine.catalog)
        checks = []
        try:
            for req, payload, j in picks:
                ok = check_request(oracle, self.ss, req, payload)
                checks.append({"check": f"rows:{req['route']}", "ok": ok,
                               "op": j, "rows": len(payload["data"])})
        finally:
            oracle.close()
        checks.append({"check": "point_manifest_from_index_pages",
                       "ok": point_manifest_from_index_pages(self.ss)})
        return checks

    def e2e(self, samples) -> dict:
        total = sum(s.latency_s for s in samples)
        return {"throughput_per_s": [sum(s.result.items for s in samples)
                                     / total],
                "latency_ms": [s.latency_s * 1e3 for s in samples]}


WORKLOADS = {w.name: w for w in (Flagship, QueryMix)}
