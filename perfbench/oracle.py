"""Independent answers to check the engine's outputs against.

* DuckDB runs the reference's SQL for each query route over the very
  parquet files the request read (the files of the table's current
  snapshot). The radius predicate is the reference's spherical law of
  cosines with its 0.0175 / 6371 constants, the same text as the
  `radius_reference` entry of ``__spark_entry__.oracle_sql``. Cell ids
  a route derives from its arguments (the cell of a point, a polyfill,
  an asset's res-7 cell) come from the engine's H3 kernel, which its own
  golden-vector tests check.
* NumPy brute force gives the IDW value of a cell: haversine distance to
  every clipped point, the k nearest within the cut-off, 1/d^p weights.
"""

from __future__ import annotations

import math
import os

import numpy as np

_EARTH_R_KM = 6371.0088


def _dbl(x: float) -> str:
    """exact double literal (a decimal literal would round differently)."""
    return f"cast('{float(x)!r}' as double)"


def radius_predicate(lat: float, lng: float, radius_km: float) -> str:
    """the reference's radius WHERE clause; acos outside [-1, 1] reads
    NULL (Spark's NaN), which no comparison keeps."""
    la = f"(cast(latitude as double) * {_dbl(0.0175)})"
    lo = f"(cast(longitude as double) * {_dbl(0.0175)})"
    cla, clo = _dbl(lat * 0.0175), _dbl(lng * 0.0175)
    x = (f"(sin({la}) * sin({cla}) + cos({la}) * cos({cla}) "
         f"* cos({clo} - {lo}))")
    return (f"(case when {x} between -1 and 1 then acos({x}) end) "
            f"* {_dbl(6371.0)} <= {_dbl(radius_km)}")


def _plain(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def row_set(rows) -> list:
    """order-free form of a result: sorted tuples, NaN read as NULL."""
    return sorted((tuple(_plain(v) for v in r) for r in rows), key=repr)


class DuckOracle:
    """SQL over a catalog table's current files."""

    def __init__(self, catalog):
        import duckdb
        self.catalog = catalog
        self.con = duckdb.connect()

    def close(self):
        self.con.close()

    def _files(self, table: str) -> str:
        man = self.catalog.read_manifest(table)
        paths = [os.path.join(self.catalog.root, f["path"])
                 for f in man["files"]]
        lst = ", ".join("'" + p.replace("'", "''") + "'" for p in paths)
        return f"read_parquet([{lst}], hive_partitioning = false)"

    def query(self, table: str, columns, where: str, cte: str = "") -> list:
        cols = ", ".join(f'"{c}"' for c in columns)
        sql = f"{cte} select {cols} from {self._files(table)} where {where}"
        return row_set(self.con.execute(sql).fetchall())

    def radius(self, table, columns, lat, lng, radius_km) -> list:
        return self.query(table, columns,
                          radius_predicate(lat, lng, radius_km))

    def equals(self, table, columns, column, value: str) -> list:
        return self.query(table, columns, f'"{column}" = \'{value}\'')

    def cells_in(self, table, columns, cells) -> list:
        vals = ", ".join(f"('{c}')" for c in cells) or "(NULL)"
        return self.query(table, columns,
                          "h3_cell in (select c from cells)",
                          cte=f"with cells(c) as (values {vals})")

    def points_in_polygons(self, table, columns, packed) -> list:
        """bbox prefilter plus even-odd ray casting over every ring edge
        of `packed` (holes included), the arithmetic of
        geo.points_in_polys."""
        edges = []
        for r in range(len(packed.ring_start)):
            ring = packed.coords[packed.ring_start[r]:packed.ring_end[r]]
            p = int(packed.ring_poly[r])
            for i in range(len(ring)):
                (y1, x1), (y2, x2) = ring[i], ring[(i + 1) % len(ring)]
                edges.append(f"({p}, {_dbl(y1)}, {_dbl(x1)}, "
                             f"{_dbl(y2)}, {_dbl(x2)})")
        la0, la1, lo0, lo1 = (float(v) for v in packed.bounds())
        cols = ", ".join(f'p."{c}"' for c in columns)
        sql = f"""
            with pts as (
                select row_number() over () as __rid, *
                from {self._files(table)}
                where latitude between {_dbl(la0)} and {_dbl(la1)}
                  and longitude between {_dbl(lo0)} and {_dbl(lo1)}),
            edges(poly, y1, x1, y2, x2) as (values {", ".join(edges)}),
            hits as (
                select p.__rid, e.poly, count(*) as c
                from pts p join edges e
                  on ((e.y1 > p.latitude) <> (e.y2 > p.latitude))
                 and (e.x1 + (p.latitude - e.y1) / (e.y2 - e.y1)
                      * (e.x2 - e.x1) > p.longitude)
                group by p.__rid, e.poly),
            inside as (select distinct __rid from hits where c % 2 = 1)
            select {cols} from pts p join inside i on p.__rid = i.__rid
        """
        return row_set(self.con.execute(sql).fetchall())

    def correlate(self, table, assets, cells7, column, threshold) -> list:
        """assets (id, lat, long) joined on their res-7 cell with the
        h3 dataset, keeping rows whose `column` exceeds `threshold` or is
        NULL (the correlator's NULL-passing filter)."""
        vals = ", ".join(f"('{a['id']}', '{c}')"
                         for a, c in zip(assets, cells7))
        sql = f"""
            with a(id, cell_7) as (values {vals})
            select a.id, d.h3_cell, d."{column}", d.latitude, d.longitude
            from a join {self._files(table)} d on d.h3_cell = a.cell_7
            where d."{column}" > {_dbl(threshold)} or d."{column}" is null
        """
        return row_set(self.con.execute(sql).fetchall())


def haversine_km(lat, lng, p_lat, p_lng):
    """distance from one point to many, as idw_interpolate computes it."""
    la1, la2 = math.radians(lat), np.radians(p_lat)
    dla = la2 - la1
    dlo = np.radians(p_lng) - math.radians(lng)
    h = np.sin(dla / 2) ** 2 + math.cos(la1) * np.cos(la2) * \
        np.sin(dlo / 2) ** 2
    return 2 * _EARTH_R_KM * np.arcsin(np.sqrt(h))


def idw_bounds(lat, lng, p_lat, p_lng, p_val, k, power, max_dist_km):
    """(low, high, n_neighbors) of the IDW value of one cell, or None
    when no point lies within the cut-off.

    The engine ranks candidates by (distance, lat, lng); points that tie
    on all three at the k-th place (planted duplicate pages) may enter
    in any order, so the value is bounded by the smallest and largest
    values the tied points can contribute."""
    d = haversine_km(lat, lng, p_lat, p_lng)
    cand = np.flatnonzero(d <= max_dist_km)
    if len(cand) == 0:
        return None
    order = cand[np.lexsort((p_lng[cand], p_lat[cand], d[cand]))]
    n = min(k, len(order))
    last = order[n - 1]
    key = (d[last], p_lat[last], p_lng[last])
    tied = np.array([i for i in order
                     if (d[i], p_lat[i], p_lng[i]) == key])
    sure = [i for i in order[:n] if i not in set(tied.tolist())]
    m = n - len(sure)
    w = 1.0 / np.maximum(d, 1e-9) ** power
    sw = float(w[sure].sum()) + m * float(w[last])
    swv = float((w[sure] * p_val[sure]).sum())
    tv = np.sort(p_val[tied])
    lo = (swv + float(w[last]) * float(tv[:m].sum())) / sw
    hi = (swv + float(w[last]) * float(tv[len(tv) - m:].sum())) / sw
    return lo, hi, n
