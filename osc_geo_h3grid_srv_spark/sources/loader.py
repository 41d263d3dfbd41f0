"""Config-driven dataset loader: the sister-repo loader's YAML schema
(reference `examples/getting-started/giss_2022_12.yml:1-22` — `loader_type:
CSVLoader`, declared column types, `max_resolution`, `interval`,
shapefile+region clip during load) driving the Spark-native
CSV -> clip -> per-resolution IDW-interpolated H3 grid -> catalog
pipeline (VERDICT r02 What's-missing #1).

Semantics implemented (reference docs README-geospatial.md:60-110 and the
`h3` dataset shape, geomesh.py:1200-1205):

* read the CSV with the DECLARED schema (no inference),
* world clip lat to [-60, 85] (geomesh.py:47-48), optional shapefile
  region clip (bbox prefilter + exact ray-cast PIP),
* for every resolution 0..max_resolution: polyfill the region (or the
  data bbox when no shapefile is given) with the reference's per-res
  buffer rule, and IDW-interpolate (k=3, power=2 defaults,
  cli_geospatial.py:36-39) each data column onto the cell centroids,
  per time slice (`interval` -> year/month/day key columns),
* write one catalog table per resolution, `{dataset}_{res}`, columns
  `h3_cell, latitude, longitude, <data cols...>, <time keys...>`,
  each registered in the snapshot that writes it (mode `create` rejects
  existing tables; `replace` overwrites data and registry entry).

Scale design: the interpolation is the banded-bucket kNN join of
operators/interpolate.py (never a cross join) run with an EXPANDING
search radius: start from the density-derived pitch, keep only cells
that found all k neighbors, re-run the (shrinking) remainder at 4x the
radius until the radius covers the region diagonal — at which point the
whole region is one bucket neighborhood and the result equals the true
global kNN. Time slices ride the same shuffle via key_cols, not a
driver loop.
"""

from __future__ import annotations

import dataclasses
import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import PackedPolygons, haversine_km

_TYPE_MAP = {
    "float": "double", "double": "double", "real": "double",
    "int": "bigint", "integer": "bigint", "bigint": "bigint",
    "long": "bigint", "smallint": "bigint",
    "str": "string", "string": "string", "varchar": "string",
    "bool": "boolean", "boolean": "boolean",
    "date": "date", "timestamp": "timestamp",
}

_INTERVALS = {"one_time": [], "yearly": ["year"],
              "monthly": ["year", "month"],
              "daily": ["year", "month", "day"]}


@dataclasses.dataclass
class LoaderConfig:
    loader_type: str
    dataset_name: str
    file_path: str
    columns: dict
    data_columns: list
    database_dir: str | None = None
    dataset_type: str = "h3"
    interval: str = "one_time"
    max_resolution: int = 7
    year_column: str | None = None
    month_column: str | None = None
    day_column: str | None = None
    has_header_row: bool = True
    mode: str = "create"
    shapefile: str | None = None
    region: str | None = None
    num_neighbors: int = 3
    power: float = 2.0
    latitude_column: str = "latitude"
    longitude_column: str = "longitude"

    @classmethod
    def from_yaml(cls, path_or_text: str) -> "LoaderConfig":
        import yaml
        if os.path.exists(path_or_text):
            with open(path_or_text) as fh:
                raw = yaml.safe_load(fh)
        else:
            raw = yaml.safe_load(path_or_text)
        return cls.from_dict(raw)

    @classmethod
    def from_dict(cls, raw: dict) -> "LoaderConfig":
        known = {f.name for f in dataclasses.fields(cls)}
        unknown = set(raw) - known
        if unknown:
            raise ValueError(f"unknown loader config keys: {sorted(unknown)}")
        cfg = cls(**raw)
        if cfg.loader_type != "CSVLoader":
            raise ValueError(
                f"loader_type {cfg.loader_type!r} not supported (CSVLoader)")
        if cfg.interval not in _INTERVALS:
            raise ValueError(f"interval {cfg.interval!r} not in "
                             f"{sorted(_INTERVALS)}")
        if cfg.mode not in ("create", "replace"):
            raise ValueError(f"mode {cfg.mode!r} not in ('create','replace')")
        if not 0 <= int(cfg.max_resolution) <= 15:
            raise ValueError(f"max_resolution {cfg.max_resolution} not in "
                             "0..15")
        for c in cfg.columns:
            t = str(cfg.columns[c]).lower()
            if t not in _TYPE_MAP:
                raise ValueError(f"column {c!r}: unknown type {t!r}")
        need = {cfg.latitude_column, cfg.longitude_column,
                *cfg.data_columns}
        for col in _INTERVALS[cfg.interval]:
            src = getattr(cfg, f"{col}_column")
            if src is None:
                raise ValueError(
                    f"interval {cfg.interval!r} requires {col}_column")
            need.add(src)
        missing = need - set(cfg.columns)
        if missing:
            raise ValueError(
                f"columns missing declarations: {sorted(missing)}")
        return cfg

    def spark_schema(self) -> str:
        return ", ".join(f"`{c}` {_TYPE_MAP[str(t).lower()]}"
                         for c, t in self.columns.items())

    def time_keys(self) -> list[str]:
        return list(_INTERVALS[self.interval])


def _grid_df(spark, packed, res):
    """region cells at `res` with centroids (reference buffer rule)."""
    import pandas as pd

    from ..functions import geo, h3core
    cells = geo.polyfill(packed, res, buffer_deg=geo.get_buffer_deg(res))
    la, lo = h3core.cell_to_latlng(cells)
    return spark.createDataFrame(
        pd.DataFrame({"h3_cell": h3core.cell_to_string(cells),
                      "latitude": la, "longitude": lo}),
        schema="h3_cell string, latitude double, longitude double")


def _interpolate_grid(cells_t, pts, data_cols, keys, k, power, d0, diag):
    """expanding-radius exact kNN: rounds of IDW, each keeping cells
    that found all k neighbors; the final round's radius covers the
    whole region so remaining cells get their true (possibly < k)
    neighbor set. Returns the union of all rounds. idw_interpolate
    collects each round's grid, so `remaining` is checkpointed: the
    collect then runs only the round just finished, not every earlier
    one again."""
    from ..operators.interpolate import idw_interpolate
    id_cols = ["h3_cell"] + keys
    remaining = cells_t
    done = []
    md = min(d0, diag)
    while True:
        last = md >= diag
        got = idw_interpolate(remaining, pts, data_cols, k=k, power=power,
                              max_dist_km=md, key_cols=keys)
        if last:
            done.append(got)
            break
        full = got.filter(F.col("n_neighbors") >= k)
        done.append(full)
        remaining = remaining.join(full.select(*id_cols), on=id_cols,
                                   how="left_anti").localCheckpoint(
                                       eager=False)
        md = min(md * 4, diag)
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out


def run_csv_loader(engine, cfg: LoaderConfig) -> dict:
    """execute the load job; returns {resolution: table_name}."""
    spark = engine.spark
    la_c, lo_c = cfg.latitude_column, cfg.longitude_column
    keys = cfg.time_keys()

    if cfg.mode == "create":
        clashes = [f"{cfg.dataset_name}_{r}"
                   for r in range(cfg.max_resolution + 1)
                   if engine.catalog.current_snapshot(
                       f"{cfg.dataset_name}_{r}") is not None]
        if clashes:
            raise ValueError(
                f"mode=create but dataset tables exist: {clashes}; use "
                f"mode: replace")

    df = spark.read.csv(cfg.file_path, header=cfg.has_header_row,
                        schema=cfg.spark_schema())
    # the reference's world clip (geomesh.py:47-48)
    df = df.filter((F.col(la_c) >= -60.0) & (F.col(la_c) <= 85.0)
                   & (F.col(lo_c) >= -180.0) & (F.col(lo_c) <= 180.0))

    packed = None
    if cfg.shapefile:
        from ..functions.spark_udfs import pip_udf_for
        from .shapefile import packed_from_shapefile
        packed = packed_from_shapefile(cfg.shapefile)
        if cfg.region is not None:
            if not packed.contains_region(cfg.region):
                raise ValueError(f"region {cfg.region!r} not in "
                                 f"{cfg.shapefile}")
            packed = packed.filter_name(cfg.region)
        la0, la1, lo0, lo1 = packed.bounds()
        # bbox prefilter stays in codegen; exact PIP only on survivors
        df = df.filter((F.col(la_c) >= la0) & (F.col(la_c) <= la1)
                       & (F.col(lo_c) >= lo0) & (F.col(lo_c) <= lo1))
        bc = spark.sparkContext.broadcast(packed.to_arrays())
        df = df.filter(pip_udf_for(bc)(F.col(la_c), F.col(lo_c)))

    pts = df.select(
        F.col(la_c).alias("latitude"), F.col(lo_c).alias("longitude"),
        *[F.col(c).cast("double").alias(c) for c in cfg.data_columns],
        *[F.col(getattr(cfg, f"{k}_column")).cast("int").alias(k)
          for k in keys])
    # the load source is read (>= twice per resolution by the expanding
    # search) — materialize once
    pts = pts.localCheckpoint(eager=True)
    n_pts = pts.count()

    if packed is not None:
        la0, la1, lo0, lo1 = packed.bounds()
    else:
        b = pts.agg(F.min("latitude"), F.max("latitude"),
                    F.min("longitude"), F.max("longitude")).collect()[0]
        la0, la1, lo0, lo1 = (b[0] or 0.0), (b[1] or 0.0), \
            (b[2] or 0.0), (b[3] or 0.0)
        ring = [(la0, lo0), (la0, lo1), (la1, lo1), (la1, lo0)]
        packed = PackedPolygons.from_latlng_rings([[ring]], ["bbox"])

    diag = max(haversine_km(la0, lo0, la1, lo1), 1.0) * 1.05
    area_km2 = max(
        haversine_km(la0, lo0, la1, lo0)
        * haversine_km(la0, lo0, la0, lo1), 1.0)
    # density-derived initial radius: ~ k points expected per disc
    d0 = max(5.0, 2.0 * math.sqrt(
        area_km2 * cfg.num_neighbors / max(n_pts, 1)))

    times = None
    if keys:
        times = pts.select(*keys).distinct()

    tables = {}
    for res in range(cfg.max_resolution + 1):
        grid = _grid_df(spark, packed, res)
        cells_t = grid.crossJoin(F.broadcast(times)) if keys else grid
        out = _interpolate_grid(cells_t, pts, cfg.data_columns, keys,
                                cfg.num_neighbors, cfg.power, d0, diag)
        out = out.select("h3_cell", "latitude", "longitude",
                         *cfg.data_columns, *keys)
        tname = f"{cfg.dataset_name}_{res}"
        engine.load_dataset_from_df(
            tname, out, dataset_type="h3",
            key_columns={"h3_cell": "VARCHAR",
                         **{k: "INTEGER" for k in keys}},
            value_columns={**{c: "DOUBLE" for c in cfg.data_columns},
                           "latitude": "DOUBLE", "longitude": "DOUBLE"},
            description=f"{cfg.dataset_name} at h3 res {res} "
                        f"(CSVLoader, interval {cfg.interval})",
            mode="overwrite")
        tables[res] = tname
    return tables


def load_from_yaml(engine, path_or_text: str) -> dict:
    return run_csv_loader(engine, LoaderConfig.from_yaml(path_or_text))
