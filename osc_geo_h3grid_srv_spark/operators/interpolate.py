"""Inverse-distance-weighted kNN interpolation of sparse points onto H3
cell centroids (SURVEY.md J5; loader-side capability of the reference:
NUM_NEIGHBOURS=3 geomesh.py:44, DEFAULT_NUM_NEIGHBORS=3 / DEFAULT_POWER=2
cli_geospatial.py:36-39, docs/README-geospatial.md:84-87).

value(cell) = sum(w_i * v_i) / sum(w_i),  w_i = 1 / d_i^power
over the k nearest data points within max_dist_km of the cell centroid.

Scale design: NO cross join and no join of points against cells. Every
caller interpolates onto a region-bounded grid, so the grid is collected
to the driver once, bucketed there in NumPy on a latitude-banded grid,
and broadcast as sorted bucket keys. One Arrow pass over the points
(``mapInArrow``) explodes each point into its 3x3 neighbour buckets,
finds the candidate cells with ``searchsorted``, keeps the pairs within
max_dist_km and emits, per batch, each cell's first k pairs in
(dist, p_lat, p_lng) order. Top-k under one total order merges exactly,
so the JVM merge — a broadcast hash join of the partials to the grid on
the cell's row index, then the ``row_number`` window and the weighted
``groupBy`` — sees at most cells x batches x k rows and gives the same
result as a top-k over every candidate pair.

Coverage guarantee (round-3 fix of the >34-degree-latitude gap):

* latitude band ``by = floor(lat / pitch)`` with ``pitch =
  1.2 * max_dist_km / 111.32`` degrees.  A point within max_dist of a
  cell differs by at most ``pitch / 1.2`` degrees of latitude, so the
  point's band is within +-1 of the cell's band and the dy explode
  covers it.
* the longitude pitch is PER BAND.  For band ``by`` let ``e`` be the
  largest |latitude| any matched row can have (band edge + one band for
  the +-1 dy margin).  Haversine gives the exact bound
  ``sin(dlng/2) <= sin(d/2R) / cos(e)`` for two points within distance
  ``d`` at |lat| <= e, i.e. ``dlng <= 2*asin(sin(d/2R)/cos(e))``.  The
  band's longitude pitch is 1.2x that bound, so a true neighbor is
  always within +-1 longitude bucket and the dx explode covers it.  The
  old code used the equatorial pitch for both axes, which silently
  dropped due-east/west neighbors whenever ``cos(lat) < 1/1.2``
  (|lat| > 33.6 deg).
* near the poles (``sin(d/2R) >= 0.99 * cos(e)``) or once the bound
  exceeds 120 degrees, the band collapses to a single 360-degree
  bucket (bx is then -1 or 0 over raw longitude, still covered by the
  +-1 explode).  The 120-degree ceiling (not 360) keeps the wrap
  explode below collision range - see next point.

Antimeridian wrap (round-3 fix of the documented seam limitation): a
point within one band-pitch of lng=+-180 gets a second copy shifted by
-+360 degrees, so a cell on the other side of the seam finds it in its
own bucket neighborhood.  Haversine is computed from the SHIFTED
longitude, which is exact (sin((d+-360)/2 deg) differs only in sign).
The copy's buckets cannot collide with the original's: with pitch
< 120 the two bucket ranges are >= 3 apart, so no (cell, point) pair
is ever double-counted; bands whose pitch would be in [120, 360)
degenerate to the single 360-degree bucket instead, which is seam-
correct by construction.

Rows with a null or non-finite latitude or longitude, on either side,
match nothing; with ``key_cols``, neither does a null key.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, StructField,
                               StructType)

_EARTH_R_KM = 6371.0088
# a worker's memory is bounded by these, not by the Arrow batch size or
# the grid's density: points per NumPy pass (18 bucket lookups each),
# and candidate pairs expanded at once (about 100 bytes each)
_SLICE = 4096
_PAIRS = 1 << 19


def _lng_pitch_deg(by_col: Column, pitch_deg: float,
                   max_dist_km: float) -> Column:
    """Longitude bucket pitch (degrees) for latitude band ``by_col``.

    Exact per-band bound: dlng <= 2*asin(sin(d/2R)/cos(e)) where e is
    the extreme |lat| reachable by any row joined into this band (band
    edge + one band of dy margin).  1.2x safety, degenerate ->360.
    """
    e_deg = F.least(
        F.greatest(F.abs(by_col * F.lit(pitch_deg)),
                   F.abs((by_col + 1) * F.lit(pitch_deg)))
        + F.lit(pitch_deg),
        F.lit(90.0))
    cos_e = F.cos(F.radians(e_deg))
    half = math.sin(max_dist_km / (2.0 * _EARTH_R_KM))  # sin(d/2R)
    ratio = F.lit(half) / cos_e
    p = F.lit(1.2) * F.degrees(
        F.lit(2.0) * F.asin(F.least(ratio, F.lit(1.0))))
    # degenerate above 120 deg (not 360): guarantees the antimeridian
    # wrap copies land >= 3 buckets from their originals (no pair is
    # counted twice)
    return F.when((ratio >= F.lit(0.99)) | (p >= F.lit(120.0)),
                  F.lit(360.0)).otherwise(p)


def _lng_pitch_np(by: np.ndarray, pitch_deg: float,
                  max_dist_km: float) -> np.ndarray:
    """``_lng_pitch_deg`` over a NumPy array of (integral float) bands,
    term for term the same expression."""
    e_deg = np.minimum(np.maximum(np.abs(by * pitch_deg),
                                  np.abs((by + 1) * pitch_deg))
                       + pitch_deg, 90.0)
    cos_e = np.cos(np.radians(e_deg))
    half = math.sin(max_dist_km / (2.0 * _EARTH_R_KM))
    ratio = half / cos_e
    p = 1.2 * np.degrees(2.0 * np.arcsin(np.minimum(ratio, 1.0)))
    return np.where((ratio >= 0.99) | (p >= 120.0), 360.0, p)


def _f64(col) -> np.ndarray:
    """an Arrow column as float64, null -> NaN."""
    return np.asarray(col.cast(pa.float64()).to_numpy(zero_copy_only=False),
                      dtype=np.float64)


def _bucket_grid(glat, glng, gid, pitch, max_dist_km) -> dict:
    """sorted int64 bucket keys of the grid rows that can match (finite
    coordinates, a non-null key group), the row order they sort, the
    bucket-range constants that encode a (group, by, bx) key, and the
    per-row radians the distance needs."""
    ok = np.isfinite(glat) & np.isfinite(glng) & (gid >= 0)
    rows = np.flatnonzero(ok)
    by = np.floor(glat[rows] / pitch)
    bx = np.floor(glng[rows] / _lng_pitch_np(by, pitch, max_dist_km))
    if len(rows):
        by0, bx0 = int(by.min()), int(bx.min())
        nby, nbx = int(by.max()) - by0 + 1, int(bx.max()) - bx0 + 1
    else:
        by0 = bx0 = 0
        nby = nbx = 1
    ng = int(gid.max()) + 1 if len(gid) else 1
    if ng * nby * nbx >= 2 ** 62:
        raise ValueError(
            f"max_dist_km={max_dist_km} buckets this grid too finely: "
            f"{ng} key groups x {nby} x {nbx} buckets overflow int64")
    code = ((gid[rows] * nby + (by.astype(np.int64) - by0)) * nbx
            + (bx.astype(np.int64) - bx0))
    o = np.argsort(code, kind="stable")
    la = np.radians(glat)
    return {"codes": code[o], "order": rows[o], "by0": by0, "bx0": bx0,
            "nby": nby, "nbx": nbx, "rlat": la, "coslat": np.cos(la),
            "rlng": np.radians(glng)}


def _pairs(lat, lng, gid, grid, pitch, max_dist_km):
    """every (cell, point) pair of one slice within max_dist_km, in
    chunks of about _PAIRS candidates: (cell row, point row, dist_km,
    point longitude as matched — shifted by -+360 for a wrap copy)."""
    n = len(lat)
    by0 = np.floor(lat / pitch)
    dys = np.array([-1.0, 0.0, 1.0])[:, None]
    pit = _lng_pitch_np(by0[None, :] + dys, pitch, max_dist_km)  # (3, n)
    # antimeridian wrap: the largest non-degenerate pitch of the three
    # candidate bands is the copy's trigger margin (module docstring)
    m = np.where(pit < 360.0, pit, 0.0).max(axis=0)
    shift = np.where((m > 0) & (lng >= 180.0 - m), -360.0,
                     np.where((m > 0) & (lng <= -180.0 + m), 360.0, 0.0))
    cp = np.flatnonzero(shift != 0.0)
    row = np.concatenate([np.arange(n), cp])
    lng_s = np.concatenate([lng, lng[cp] + shift[cp]])
    pit = pit[:, row]
    by = by0[row][None, :] + dys
    bx = np.floor(lng_s[None, :] / pit)
    # in a single-360-degree-bucket band the original already reaches
    # every cell; a wrap copy there would double-match
    ok = (np.arange(len(row)) < n)[None, :] | (pit < 360.0)
    # (3 dy) x (3 dx) neighbour buckets, rows in (dy, dx) order
    by = np.repeat(by, 3, axis=0)
    bx = np.repeat(bx, 3, axis=0) + np.tile(dys[:, 0], 3)[:, None]
    ok = (np.repeat(ok, 3, axis=0)
          & (by >= grid["by0"]) & (by < grid["by0"] + grid["nby"])
          & (bx >= grid["bx0"]) & (bx < grid["bx0"] + grid["nbx"]))
    code = np.full(by.shape, -1, dtype=np.int64)
    g = np.broadcast_to(gid[row][None, :], by.shape)[ok]
    code[ok] = ((g * grid["nby"] + (by[ok].astype(np.int64) - grid["by0"]))
                * grid["nbx"] + (bx[ok].astype(np.int64) - grid["bx0"]))
    code = code.ravel()
    lo = np.searchsorted(grid["codes"], code, "left")
    cnt = np.searchsorted(grid["codes"], code, "right") - lo
    start = np.cumsum(cnt) - cnt
    cuts = np.r_[0, np.flatnonzero(np.diff(start // _PAIRS)) + 1, len(code)]
    for a, b in zip(cuts[:-1], cuts[1:]):
        q = np.repeat(np.arange(a, b), cnt[a:b])
        pos = (lo[q] + np.arange(len(q))
               - np.repeat(start[a:b] - start[a], cnt[a:b]))
        cell = grid["order"][pos]
        r = q % len(row)
        pt, plng = row[r], lng_s[r]
        # haversine in km
        la1, la2 = grid["rlat"][cell], np.radians(lat[pt])
        dla = la2 - la1
        dlo = np.radians(plng) - grid["rlng"][cell]
        h = (np.sin(dla / 2) ** 2
             + grid["coslat"][cell] * np.cos(la2) * np.sin(dlo / 2) ** 2)
        d = (2 * _EARTH_R_KM) * np.arcsin(np.sqrt(h))
        near = d <= max_dist_km
        yield cell[near], pt[near], d[near], plng[near]


def _first_k(cell, d, plat, plng, k):
    """indices of each cell's first k entries in (dist, p_lat, p_lng)
    order."""
    o = np.lexsort((plng, plat, d, cell))
    c = cell[o]
    i = np.arange(len(c))
    start = np.maximum.accumulate(
        np.where(np.r_[True, c[1:] != c[:-1]], i, 0))
    return o[i - start < k]


def _partials(batches, grid, k, pitch, max_dist_km, nvals):
    """mapInArrow body: each batch's top-k pairs per cell, merged over
    the point slices and pair chunks of _pairs."""
    for b in batches:
        lat, lng = _f64(b.column("p_lat")), _f64(b.column("p_lng"))
        gid = (b.column("__g").to_numpy().astype(np.int64)
               if "__g" in b.schema.names
               else np.zeros(b.num_rows, np.int64))
        live = np.flatnonzero(np.isfinite(lat) & np.isfinite(lng))
        acc = [np.empty(0, np.int64), np.empty(0, np.int64),
               np.empty(0), np.empty(0)]
        for s in range(0, len(live), _SLICE):
            idx = live[s:s + _SLICE]
            for cell, pt, d, plng in _pairs(lat[idx], lng[idx], gid[idx],
                                            grid, pitch, max_dist_km):
                acc = [np.concatenate([a, x]) for a, x in
                       zip(acc, (cell, idx[pt], d, plng))]
                keep = _first_k(acc[0], acc[2], lat[acc[1]], acc[3], k)
                acc = [a[keep] for a in acc]
        if not len(acc[0]):
            continue
        cell, prow, d, plng = acc
        take = pa.array(prow)
        yield pa.RecordBatch.from_arrays(
            [pa.array(cell.astype(np.int32)), pa.array(d),
             pa.array(lat[prow]), pa.array(plng),
             *[b.column(f"p_val_{i}").take(take)
               for i in range(nvals)]],
            names=["__ci", "dist_km", "p_lat", "p_lng",
                   *[f"p_val_{i}" for i in range(nvals)]])


def idw_interpolate(cells: DataFrame, points: DataFrame,
                    value_col: str | list[str],
                    k: int = 3, power: float = 2.0,
                    max_dist_km: float = 50.0,
                    cell_col: str = "h3_cell",
                    broadcast_cells: bool = False,
                    key_cols: list[str] | None = None) -> DataFrame:
    """cells: (cell_col, latitude, longitude); points: (latitude,
    longitude, value_col). Returns (cell_col, latitude, longitude,
    {value_col} interpolated, n_neighbors).

    The cell grid is collected to the driver when this is called, so
    it must fit there (a region-bounded grid does).

    key_cols: optional grouping columns present on BOTH sides (e.g.
    year/month time keys): a point only reaches cells of its own key
    tuple, and the top-k window and output grouping include them, so
    one pass interpolates every time slice independently — no
    driver-side loop over slices (the YAML loader's `interval`
    semantics).

    broadcast_cells selects nothing: the grid is always broadcast. It
    is accepted so existing callers keep working."""
    spark = cells.sparkSession
    pitch = max_dist_km / 111.32 * 1.2  # deg; >= max_dist in lat terms
    keys = list(key_cols or [])
    vcols = [value_col] if isinstance(value_col, str) else list(value_col)

    tbl = cells.select(cell_col, "latitude", "longitude", *keys).toArrow()
    n = tbl.num_rows
    tbl = tbl.append_column("__ci", pa.array(np.arange(n, dtype=np.int32)))
    pts = points.select(
        F.col("latitude").cast("double").alias("p_lat"),
        F.col("longitude").cast("double").alias("p_lng"),
        *[F.col(v).alias(f"p_val_{i}") for i, v in enumerate(vcols)],
        *keys)
    gid = np.zeros(n, np.int64)
    if keys:
        # one group id per non-null key tuple of the grid; the points
        # pick theirs up in an equi-join, so key types coerce and null
        # keys drop exactly as Spark joins them
        groups = tbl.select(keys).drop_null().group_by(keys).aggregate([])
        groups = groups.append_column(
            "__g", pa.array(np.arange(groups.num_rows, dtype=np.int64)))
        hit = tbl.select([*keys, "__ci"]).join(groups, keys,
                                                join_type="inner")
        gid = np.full(n, -1, np.int64)
        gid[hit.column("__ci").to_numpy()] = hit.column("__g").to_numpy()
        pts = pts.join(F.broadcast(spark.createDataFrame(groups)),
                       on=keys).drop(*keys)
    grid = _bucket_grid(_f64(tbl.column("latitude")),
                        _f64(tbl.column("longitude")), gid, pitch,
                        max_dist_km)
    bc = spark.sparkContext.broadcast(grid)
    schema = StructType(
        [StructField("__ci", IntegerType()),
         *[StructField(c, DoubleType()) for c in
           ("dist_km", "p_lat", "p_lng")],
         *[pts.schema[f"p_val_{i}"] for i in range(len(vcols))]])
    part = pts.mapInArrow(
        lambda it: _partials(it, bc.value, k, pitch, max_dist_km,
                             len(vcols)), schema)

    j = part.join(F.broadcast(spark.createDataFrame(tbl)), on="__ci")
    w = Window.partitionBy(cell_col, *keys).orderBy(
        F.col("dist_km").asc(), F.col("p_lat").asc(), F.col("p_lng").asc())
    j = j.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    # IDW weights; exact hits (dist ~ 0) dominate via epsilon clamp
    j = j.withColumn(
        "w", F.lit(1.0) / F.greatest(F.col("dist_km"),
                                     F.lit(1e-9)) ** F.lit(float(power)))
    out = j.groupBy(cell_col, "latitude", "longitude", *keys).agg(
        *[(F.sum(F.col("w") * F.col(f"p_val_{i}")) / F.sum("w")).alias(v)
          for i, v in enumerate(vcols)],
        F.count("*").alias("n_neighbors"))
    return out
