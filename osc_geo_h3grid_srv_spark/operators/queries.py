"""Dataset query operators - the reference's REST/CLI query surface
(SURVEY.md SS2.9) re-expressed as declarative DataFrame builders.

Parity contract (tested against a DuckDB oracle executing the reference's
assembled SQL): radius constants 0.0175 / 6371 / 40075 and the min-radius
guard (geomesh.py:668-687, 1225-1299); time-filter inference
(geomesh.py:1140-1186); empty filter set => no WHERE (fixing reference
defect D4); results compared as row SETS (the reference never ORDERs).

All filters/projections are pure Column expressions -> Catalyst pushes
them into the Parquet scan (predicate pushdown + column pruning); the
only pandas UDF on these paths is H3 cell assignment for lat/lng lookups.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ..functions import geo, h3core
from ..functions.spark_udfs import reference_radius_expr
from ..sources.catalog import interval_of

CELL_COL = "h3_cell"  # reference const.py:11


def _time_filter(df, interval, year=None, month=None, day=None):
    """P2: equality filters on year/month/day key columns with the
    reference's required-part errors (geomesh.py:1140-1186)."""
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
    for c in conds:
        df = df.filter(c)
    return df


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


def _select_cells(df, value_columns):
    """P1 projection for h3/h3_index datasets (geomesh.py:688-692)."""
    return df.select(CELL_COL, "latitude", "longitude", *value_columns)


def _point_res_columns(df):
    """res{r} columns of a point dataset (dataset_utilities.py:19-24)."""
    import re
    return [c for c in df.columns
            if re.fullmatch(r"res[0-9]|res1[0-5]", c)]


def _select_points(df, value_columns):
    """projection for point datasets: values + lat/lng + res cols
    (geomesh.py:395-399)."""
    res_cols = _point_res_columns(df)
    return df.select(*value_columns, "latitude", "longitude", *res_cols)


class DatasetQueries:
    """query operators over a registered dataset; `load` yields the
    dataset's DataFrame (engine injects catalog.load + metadata)."""

    def __init__(self, catalog, dataset):
        self.catalog = catalog
        self.dataset = dataset
        self.meta = catalog.get_ds_metadata(dataset)
        self.interval = interval_of(self.meta["key_columns"])
        # the reference's projection re-selects latitude/longitude when they
        # also appear in value_columns (flood datasets do), emitting
        # duplicate columns that _row_to_cell_out then reads positionally
        # (geomesh.py:1070-1090); DataFrames name columns, so we emit each
        # once - same row content, no duplicate names
        self.value_columns = [c for c in self.meta["value_columns"]
                              if c not in (CELL_COL, "latitude", "longitude")]
        self.ds_type = self.meta["dataset_type"]

    def load(self):
        return self.catalog.load(self.dataset)

    def _timed(self, year, month, day, bbox=None):
        """the time-filtered DataFrame. With a query bbox
        (la_min, la_max, lo_min, lo_max) on a p{r}-partitioned dataset,
        the files are planned from the HEAD manifest first: only the
        partitions _partition_prune keeps are read, and the same IN
        filter stays on the pruned DataFrame. One manifest read serves
        both the planning and the load."""
        man = self.catalog.read_manifest(self.dataset)
        parts = None if bbox is None else self._partition_prune(man, *bbox)
        df = _time_filter(self.catalog.frame(man, parts), self.interval,
                          year, month, day)
        for col, vals in (parts or {}).items():
            df = df.filter(F.col(col).isin(sorted(vals)))
        return df

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
        import re as _re
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
            m = _re.fullmatch(r"p(\d{1,2})", col)
            if not m:
                continue
            vals = set()
            for (a0, a1, o0, o1) in boxes:
                cells = h3core.polyfill_candidates(
                    a0, a1, o0, o1, int(m.group(1)))
                vals.update(int(v) for v in cells.view(np.int64))
            parts[col] = vals
        return parts or None

    # -- radius queries (geomesh.py:539-576 / 480-537 / 417-478) ------------

    def latlong_radius(self, lat, lng, radius_km, resolution=3,
                       year=None, month=None, day=None):
        """POST /api/geomesh/latlong/radius/{ds} - rows whose (centroid)
        lat/lng lies within radius_km of the given point."""
        if self.ds_type not in ("h3", "h3_index"):
            raise ValueError(f"dataset {self.dataset} is not h3/h3_index")
        r = _radius_guard(radius_km, resolution, is_point_dataset=False)
        # h3 datasets carry cell-centroid latitude/longitude, so the
        # same cap-bbox partition pruning as the point path applies
        # (round 2: previously only the point path pruned)
        df = self._timed(year, month, day, None if r is None
                         else self._radius_bbox(lat, lng, r))
        if r is not None:
            df = df.filter(
                reference_radius_expr("latitude", "longitude", lat, lng)
                <= F.lit(r))
        return _select_cells(df, self.value_columns)

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

    def latlong_radius_point(self, lat, lng, radius_km,
                             year=None, month=None, day=None):
        """POST /api/datasets/point/latlong/radius/{ds}."""
        if self.ds_type != "point":
            raise ValueError(f"dataset {self.dataset} is not a point dataset")
        r = _radius_guard(radius_km, 0, is_point_dataset=True)
        df = self._timed(year, month, day, None if r is None
                         else self._radius_bbox(lat, lng, r))
        if r is not None:
            df = df.filter(
                reference_radius_expr("latitude", "longitude", lat, lng)
                <= F.lit(r))
        return _select_points(df, self.value_columns)

    def cell_radius(self, cell_hex, radius_km, year=None, month=None,
                    day=None):
        """POST /api/geomesh/cell/radius/{ds}: radius around the cell's
        centroid (geomesh.py:417-458)."""
        cid = h3core.string_to_cell(np.array([cell_hex]))
        res = int(h3core.get_resolution(cid)[0])
        clat, clng = h3core.cell_to_latlng(cid)
        return self.latlong_radius(float(clat[0]), float(clng[0]), radius_km,
                                   resolution=res, year=year, month=month,
                                   day=day)

    def cell_radius_point(self, cell_hex, radius_km, year=None, month=None,
                          day=None):
        cid = h3core.string_to_cell(np.array([cell_hex]))
        clat, clng = h3core.cell_to_latlng(cid)
        return self.latlong_radius_point(float(clat[0]), float(clng[0]),
                                         radius_km, year=year, month=month,
                                         day=day)

    # -- point lookups (geomesh.py:700-903) ----------------------------------

    def cell_point(self, cell_hex, year=None, month=None, day=None):
        """POST /api/geomesh/cell/point/{ds}: the single row of this cell
        (P9; geomesh.py:700-782)."""
        df = self._timed(year, month, day)
        df = df.filter(F.col(CELL_COL) == F.lit(cell_hex))
        return _select_cells(df, self.value_columns)

    def cell_point_point(self, cell_hex, year=None, month=None, day=None):
        """point-dataset variant: filter on the res{r} column matching the
        query cell's resolution (geomesh.py:836-855)."""
        cid = h3core.string_to_cell(np.array([cell_hex]))
        res = int(h3core.get_resolution(cid)[0])
        bverts = h3core.cell_boundary(cid)[0]  # (6, 2) lat,lng
        df = self._timed(year, month, day, (
            float(bverts[:, 0].min()), float(bverts[:, 0].max()),
            float(bverts[:, 1].min()), float(bverts[:, 1].max())))
        col = f"res{res}"
        if col not in df.columns:
            raise ValueError(f"dataset has no {col} column")
        df = df.filter(F.col(col) == F.lit(cell_hex))
        return _select_points(df, self.value_columns)

    def latlong_point(self, lat, lng, resolution=7, year=None, month=None,
                      day=None):
        """POST /api/geomesh/latlong/point/{ds}: geo_to_h3 then cell lookup
        (geomesh.py:862-903)."""
        cell = h3core.cell_to_string(
            h3core.latlng_to_cell(np.array([lat]), np.array([lng]),
                                  resolution))[0]
        if self.ds_type == "point":
            return self.cell_point_point(cell, year, month, day)
        return self.cell_point(cell, year, month, day)

    # -- bbox + shapefile retrieval (geomesh.py:152-414, 951-1064) ----------

    def bounding_box(self, lat_min, lat_max, lng_min, lng_max,
                     year=None, month=None, day=None, exact_cells=True):
        """bounding_box_get (geomesh.py:951-1064): for h3 datasets the
        reference polyfills the bbox and does IN-list membership; the row
        set equals a lat/lng BETWEEN filter on cell centroids when
        exact_cells=False (cheap path). exact_cells=True reproduces the
        polyfill->membership semantics (centroid-in-bbox of cells)."""
        df = self._timed(year, month, day, (
            float(lat_min), float(lat_max), float(lng_min), float(lng_max)))
        cond = (F.col("latitude").between(float(lat_min), float(lat_max))
                & F.col("longitude").between(float(lng_min), float(lng_max)))
        df = df.filter(cond)
        if self.ds_type == "point":
            return _select_points(df, self.value_columns)
        return _select_cells(df, self.value_columns)

    def shapefile(self, polygons: geo.PackedPolygons, region=None,
                  resolution=7, year=None, month=None, day=None):
        """shapefile_get (geomesh.py:152-292): polyfill the (buffered)
        region at `resolution`, then semi-join the dataset on cell id.
        J2: the reference's <=20k-id IN chunks become one broadcast
        left-semi join."""
        if region is not None:
            if not polygons.contains_region(region):
                raise ValueError(f"region {region!r} not in shapefile")
            polygons = polygons.filter_name(region)
        buffer_deg = geo.get_buffer_deg(resolution)
        import pandas as pd
        cells = h3core.cell_to_string(
            geo.polyfill(polygons, resolution, buffer_deg=buffer_deg))
        spark = self.catalog.spark
        cells_df = spark.createDataFrame(
            pd.DataFrame({CELL_COL: cells}))
        df = self._timed(year, month, day)
        df = df.join(F.broadcast(cells_df), on=CELL_COL, how="left_semi")
        return _select_cells(df, self.value_columns)

    def shapefile_point(self, polygons: geo.PackedPolygons, region=None,
                        year=None, month=None, day=None, bbox_only=False):
        """shapefile_get_point (geomesh.py:294-414). The reference's exact
        point-in-polygon refinement is dead code (defect D1: the lazy
        filter() at geomesh.py:407-413 is never consumed), so its
        effective semantics are bbox+time only; bbox_only=True reproduces
        that. Default is the intended semantics: bbox prefilter + exact
        PIP via a broadcast polygon pandas UDF (J3)."""
        if region is not None:
            if not polygons.contains_region(region):
                raise ValueError(f"region {region!r} not in shapefile")
            polygons = polygons.filter_name(region)
        la_min, la_max, lo_min, lo_max = polygons.bounds()
        df = self._timed(year, month, day, (
            float(la_min), float(la_max), float(lo_min), float(lo_max)))
        df = df.filter(
            F.col("latitude").between(float(la_min), float(la_max))
            & F.col("longitude").between(float(lo_min), float(lo_max)))
        if not bbox_only:
            from ..functions.spark_udfs import pip_udf_for
            bc = self.catalog.spark.sparkContext.broadcast(
                polygons.to_arrays())
            pip = pip_udf_for(bc)
            df = df.filter(pip(F.col("latitude"), F.col("longitude")))
        return _select_points(df, self.value_columns)

    def filter_cells(self, polygons: geo.PackedPolygons, region=None,
                     resolution=7, tolerance=None):
        return enumerate_region_cells(self.catalog.spark, polygons, region,
                                      resolution, tolerance)


def enumerate_region_cells(spark, polygons: geo.PackedPolygons, region=None,
                           resolution=7, tolerance=None, distributed=None):
    """`filter` CLI verb (geomesh.py:905-949): region -> cell id list.
    `tolerance` accepted and ignored (reference defect D9).

    Above ~4M driver sample-grid points (continent-scale regions at fine
    res) the enumeration switches to operators.polyfill.
    polyfill_distributed — per-parent refinement on executors, identical
    cell set (VERDICT r01 next-step #10). Force with distributed=True/
    False."""
    if region is not None:
        polygons = polygons.filter_name(region)
    buffer_deg = geo.get_buffer_deg(resolution)
    from .polyfill import (DRIVER_SAMPLE_LIMIT, estimate_driver_samples,
                           polyfill_distributed)
    if distributed is None:
        distributed = estimate_driver_samples(
            polygons, resolution, buffer_deg) > DRIVER_SAMPLE_LIMIT
    if distributed:
        df = polyfill_distributed(spark, polygons, resolution, buffer_deg)
        return df.select(F.lower(F.hex("cell")).alias("cell"))
    import pandas as pd
    cells = h3core.cell_to_string(
        geo.polyfill(polygons, resolution, buffer_deg=buffer_deg))
    return spark.createDataFrame(pd.DataFrame({"cell": cells}))
