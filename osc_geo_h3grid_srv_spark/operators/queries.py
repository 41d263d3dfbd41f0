"""Dataset query operators - the reference's REST/CLI query surface
(SURVEY.md SS2.9) re-expressed as declarative DataFrame builders.

Parity contract (tested against a DuckDB oracle executing the reference's
assembled SQL): radius constants 0.0175 / 6371 / 40075 and the min-radius
guard (geomesh.py:668-687, 1225-1299); time-filter inference
(geomesh.py:1140-1186); empty filter set => no WHERE (fixing reference
defect D4); results compared as row SETS (the reference never ORDERs).

The reference serves h3 datasets (geomesh_router) and point datasets
(point_router) through twin handlers; DatasetQueries has one method per
route serving both, and this module is the only one that branches on the
dataset type: the radius guard, the projection (_project), the cell
column cell_point filters on and the shapefile algorithm.

All filters/projections are pure Column expressions -> Catalyst pushes
them into the Parquet scan (predicate pushdown + column pruning); the
only pandas UDF on these paths is the point-dataset shapefile PIP test.
"""

from __future__ import annotations

import functools
import operator
import re

import numpy as np
from pyspark.sql import functions as F

from ..functions import geo, h3core
from ..functions.spark_udfs import reference_radius_expr
from ..sources.catalog import interval_of, quote_ident

CELL_COL = "h3_cell"  # reference const.py:11


def _time_filter(interval, year=None, month=None, day=None):
    """P2: the equality predicates on year/month/day key columns, with
    the reference's required-part errors (geomesh.py:1140-1186)."""
    conds = []
    if interval in ("yearly", "monthly", "daily"):
        if year is None:
            raise ValueError(f"{interval} dataset requires 'year'")
        conds.append(F.col("year") == F.lit(int(year)))
    if interval in ("monthly", "daily"):
        if month is None:
            raise ValueError(f"{interval} dataset requires 'month'")
        conds.append(F.col("month") == F.lit(int(month)))
    if interval == "daily":
        if day is None:
            raise ValueError("daily dataset requires 'day'")
        conds.append(F.col("day") == F.lit(int(day)))
    return conds


def _in_bbox(la_min, la_max, lo_min, lo_max):
    """latitude/longitude inside the bbox, bounds included."""
    return (F.col("latitude").between(la_min, la_max)
            & F.col("longitude").between(lo_min, lo_max))


def _radius_guard(radius_km, res, is_point_dataset):
    """P4 semantics (geomesh.py:668-687): radius==-1 or >= 40075 -> no
    radius filter; h3 datasets reject radius below the cell's hex side;
    point datasets reject negative radius."""
    if radius_km == -1 or radius_km >= geo.EARTH_CIRCUMFERENCE_KM:
        return None
    if is_point_dataset:
        if radius_km < 0:
            raise ValueError("radius must be >= 0 for point datasets")
    else:
        mr = geo.min_radius_km(res)
        if radius_km < mr:
            raise ValueError(
                f"radius {radius_km} below minimum {mr:.3f} km for "
                f"resolution {res}")
    return float(radius_km)


class DatasetQueries:
    """the query routes over one registered dataset, h3/h3_index or
    point; `load` yields the dataset's DataFrame. The HEAD manifest is
    read once: it holds the registry entry and plans every route's
    files, so all of them read the same snapshot."""

    def __init__(self, catalog, dataset):
        self.catalog = catalog
        self.dataset = dataset
        self.man = catalog.registered_manifest(dataset)
        if not self.man["schema"]:
            raise ValueError(
                f"dataset {dataset!r} is registered but holds no data "
                "yet; load it before querying")
        self.meta = self.man["dataset"]
        self.interval = interval_of(self.meta["key_columns"])
        # the reference's projection re-selects latitude/longitude when they
        # also appear in value_columns (flood datasets do), emitting
        # duplicate columns that _row_to_cell_out then reads positionally
        # (geomesh.py:1070-1090); DataFrames name columns, so we emit each
        # once - same row content, no duplicate names
        self.value_columns = [c for c in self.meta["value_columns"]
                              if c not in (CELL_COL, "latitude", "longitude")]
        self.ds_type = self.meta["dataset_type"]
        self.columns = [c["name"] for c in self.man["schema"]]

    def load(self):
        return self.catalog.frame(self.man)

    def _timed(self, year, month, day, bbox=None, where=None):
        """the dataset filtered by time and by the route's own predicate
        `where` (a Column), all in one filter. With a query bbox
        (la_min, la_max, lo_min, lo_max) on a p{r}-partitioned dataset,
        the files are planned from the HEAD manifest first: only the
        partitions _partition_prune keeps are read, and an IN predicate
        on the same literals joins the filter (it reaches the scan as a
        PartitionFilter). One filter, because every DataFrame step is
        analysed eagerly in the JVM (about 9 ms each)."""
        conds = _time_filter(self.interval, year, month, day)
        parts = None if bbox is None else self._partition_prune(self.man,
                                                                *bbox)
        conds += [F.col(col).isin(sorted(vals))
                  for col, vals in (parts or {}).items()]
        if where is not None:
            conds.append(where)
        df = self.catalog.frame(self.man, parts)
        return df.filter(functools.reduce(operator.and_, conds)) \
            if conds else df

    @staticmethod
    def _partition_prune(man, la_min, la_max, lo_min, lo_max):
        """partition pruning planned from the manifest (SURVEY.md SS4.2
        item 2): when the dataset is laid out partitioned by a
        parent-cell column p{r} (index_pages), compute in the DRIVER
        (tiny kernel call) the parent cells that can intersect the query
        bbox -> {p{r}: candidate cells}, or None when no partition column
        is a parent cell. Catalog.frame reads only the manifest files of
        those partitions, and _timed then filters with an IN-list of the
        same literals. polyfill_candidates over-covers (every cell
        intersecting the bbox holds a sample point), so pruning never
        drops a matching row.

        Wrap handling: a bbox that crosses the antimeridian (lo_min <
        -180 or lo_max > 180) is split into both longitude segments; a
        bbox reaching over a pole covers every longitude."""
        if la_max > 90.0 or la_min < -90.0:  # over a pole: all lngs
            lo_min, lo_max = -180.0, 180.0
            la_min, la_max = max(la_min, -90.0), min(la_max, 90.0)
        boxes = []
        if lo_min < -180.0:
            boxes.append((la_min, la_max, lo_min + 360.0, 180.0))
            lo_min = -180.0
        if lo_max > 180.0:
            boxes.append((la_min, la_max, -180.0, lo_max - 360.0))
            lo_max = 180.0
        boxes.append((la_min, la_max, lo_min, lo_max))
        parts = {}
        for col in man["partition_by"]:
            m = re.fullmatch(r"p(\d{1,2})", col)
            if not m:
                continue
            vals = set()
            for (a0, a1, o0, o1) in boxes:
                cells = h3core.polyfill_candidates(
                    a0, a1, o0, o1, int(m.group(1)))
                vals.update(int(v) for v in cells.view(np.int64))
            parts[col] = vals
        return parts or None

    def _project(self, df):
        """P1 projection. h3 datasets: cell, centroid, values
        (geomesh.py:688-692). Point datasets: values, lat/lng and the
        res{r} columns (geomesh.py:395-399, dataset_utilities.py:19-24).
        Column names as SQL strings: one py4j call per column, where a
        select of names makes three."""
        if self.ds_type == "point":
            res_cols = [c for c in self.columns
                        if re.fullmatch(r"res[0-9]|res1[0-5]", c)]
            cols = [*self.value_columns, "latitude", "longitude", *res_cols]
        else:
            cols = [CELL_COL, "latitude", "longitude", *self.value_columns]
        return df.selectExpr(*map(quote_ident, cols))

    # -- radius queries (geomesh.py:539-576 / 480-537 / 417-478) ------------

    def latlong_radius(self, lat, lng, radius_km, resolution=3,
                       year=None, month=None, day=None):
        """POST /api/geomesh/latlong/radius/{ds} and
        /api/datasets/point/latlong/radius/{ds} - rows whose lat/lng (the
        cell centroid on h3 datasets) lies within radius_km of the given
        point. `resolution` sets the h3 minimum-radius guard; point
        datasets only reject a negative radius."""
        r = _radius_guard(radius_km, resolution,
                          is_point_dataset=self.ds_type == "point")
        if r is None:
            return self._project(self._timed(year, month, day))
        return self._project(self._timed(
            year, month, day, self._radius_bbox(lat, lng, r),
            reference_radius_expr("latitude", "longitude", lat, lng)
            <= F.lit(r)))

    @staticmethod
    def _radius_bbox(lat, lng, r):
        """(la_min, la_max, lo_min, lo_max) covering the r-km disk.
        KM_PER_DEGREE=110 (reference geomesh.py:45) gives the lat
        half-width; the longitude half-width of a spherical cap is
        asin(sin(c)/cos(lat)) with c the angular radius — the bbox
        extreme sits at the tangent latitude, not the center, so a
        linear r/(110*cos) under-covers near the poles (a disk at
        lat 89 / r=100km needs 64 deg, linear gives 45.5). c uses
        110 km/deg (> true 111.19) so it over-covers; if the cap
        touches a pole (sin c >= cos lat) every longitude matches."""
        dla = r / 110.0
        sin_c = np.sin(np.radians(min(dla, 90.0)))
        cos_lat = np.cos(np.radians(min(abs(lat), 90.0)))
        if sin_c >= cos_lat:
            dlo = 360.0
        else:
            dlo = np.degrees(np.arcsin(sin_c / cos_lat)) * 1.01
        return lat - dla, lat + dla, lng - dlo, lng + dlo

    def cell_radius(self, cell_hex, radius_km, year=None, month=None,
                    day=None):
        """POST .../cell/radius/{ds}: radius around the cell's centroid
        (geomesh.py:417-458); the cell's resolution sets the h3 guard."""
        cid = h3core.string_to_cell(np.array([cell_hex]))
        res = int(h3core.get_resolution(cid)[0])
        clat, clng = h3core.cell_to_latlng(cid)
        return self.latlong_radius(float(clat[0]), float(clng[0]), radius_km,
                                   resolution=res, year=year, month=month,
                                   day=day)

    # -- point lookups (geomesh.py:700-903) ----------------------------------

    def cell_point(self, cell_hex, year=None, month=None, day=None):
        """POST .../cell/point/{ds}: the rows of this cell - h3_cell
        equality on h3 datasets (P9; geomesh.py:700-782), equality on the
        res{r} column of the cell's resolution on point datasets
        (geomesh.py:836-855). Files are planned from the cell's boundary
        bbox."""
        cid = h3core.string_to_cell(np.array([cell_hex]))
        col = CELL_COL
        if self.ds_type == "point":
            col = f"res{int(h3core.get_resolution(cid)[0])}"
            if col not in self.columns:
                raise ValueError(f"dataset has no {col} column")
        bverts = h3core.cell_boundary(cid)[0]  # (6, 2) lat,lng
        return self._project(self._timed(year, month, day, (
            float(bverts[:, 0].min()), float(bverts[:, 0].max()),
            float(bverts[:, 1].min()), float(bverts[:, 1].max())),
            F.col(col) == F.lit(cell_hex)))

    def latlong_point(self, lat, lng, resolution=7, year=None, month=None,
                      day=None):
        """POST /api/geomesh/latlong/point/{ds}: geo_to_h3 then cell lookup
        (geomesh.py:862-903)."""
        cell = h3core.cell_to_string(
            h3core.latlng_to_cell(np.array([lat]), np.array([lng]),
                                  resolution))[0]
        return self.cell_point(cell, year, month, day)

    # -- bbox + shapefile retrieval (geomesh.py:152-414, 951-1064) ----------

    def bounding_box(self, lat_min, lat_max, lng_min, lng_max,
                     year=None, month=None, day=None):
        """bounding_box_get (geomesh.py:951-1064): rows whose lat/lng lies
        in the bbox. On h3 datasets the reference polyfills the bbox and
        tests cell membership; polyfill keeps the cells whose centroid is
        inside, so a BETWEEN filter on the centroid columns is the same
        row set."""
        bbox = (float(lat_min), float(lat_max), float(lng_min),
                float(lng_max))
        return self._project(self._timed(year, month, day, bbox,
                                         _in_bbox(*bbox)))

    def shapefile(self, polygons: geo.PackedPolygons, region=None,
                  resolution=7, year=None, month=None, day=None):
        """shapefile_get / shapefile_get_point (geomesh.py:152-414).

        h3 datasets: the (buffered) region's cells at `resolution` from
        enumerate_region_cells, semi-joined on h3_cell (J2: the
        reference's <=20k-id IN chunks become one broadcast left-semi
        join). Point datasets: bbox prefilter + exact PIP via a broadcast
        polygon pandas UDF (J3); `resolution` is unused. The reference's
        own PIP refinement is dead code (defect D1: the lazy filter() at
        geomesh.py:407-413 is never consumed), so it returns the bbox
        rows; this returns the rows inside the region."""
        if region is not None:
            if not polygons.contains_region(region):
                raise ValueError(f"region {region!r} not in shapefile")
            polygons = polygons.filter_name(region)
        if self.ds_type != "point":
            cells = enumerate_region_cells(
                self.catalog.spark, polygons, resolution=resolution
            ).withColumnRenamed("cell", CELL_COL)
            df = self._timed(year, month, day)
            return self._project(df.join(F.broadcast(cells), on=CELL_COL,
                                         how="left_semi"))
        from ..functions.spark_udfs import pip_udf_for
        bbox = tuple(float(v) for v in polygons.bounds())
        pip = pip_udf_for(self.catalog.spark.sparkContext.broadcast(
            polygons.to_arrays()))
        return self._project(self._timed(
            year, month, day, bbox,
            _in_bbox(*bbox) & pip(F.col("latitude"), F.col("longitude"))))


def enumerate_region_cells(spark, polygons: geo.PackedPolygons, region=None,
                           resolution=7, tolerance=None):
    """`filter` CLI verb (geomesh.py:905-949): region -> cell id list.
    `tolerance` accepted and ignored (reference defect D9).

    Above ~4M driver sample-grid points (continent-scale regions at fine
    res) the enumeration switches to operators.polyfill.
    polyfill_distributed — per-parent refinement on executors, identical
    cell set (VERDICT r01 next-step #10)."""
    if region is not None:
        polygons = polygons.filter_name(region)
    buffer_deg = geo.get_buffer_deg(resolution)
    from .polyfill import (DRIVER_SAMPLE_LIMIT, estimate_driver_samples,
                           polyfill_distributed)
    if estimate_driver_samples(polygons, resolution,
                               buffer_deg) > DRIVER_SAMPLE_LIMIT:
        df = polyfill_distributed(spark, polygons, resolution, buffer_deg)
        return df.select(F.lower(F.hex("cell")).alias("cell"))
    import pandas as pd
    cells = h3core.cell_to_string(
        geo.polyfill(polygons, resolution, buffer_deg=buffer_deg))
    return spark.createDataFrame(pd.DataFrame({"cell": cells}))
