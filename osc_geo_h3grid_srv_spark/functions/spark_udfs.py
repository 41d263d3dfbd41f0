"""Arrow-vectorized pandas UDFs exposing the NumPy kernels to Spark.

Every UDF is Series->Series over Arrow batches (the reference's per-row
h3.geo_to_h3 listcomp at correlator.py:90-93 is the anti-pattern these
replace; BASELINE.json: "no per-row Python anywhere on the hot path").

Cell ids travel as int64 (bit-identical reinterpretation of the uint64 H3
index) - joins/groupBys on longs are far cheaper than on strings. Use
cell_str to convert at API edges where the reference exposes hex strings
(h3_cell VARCHAR columns).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from . import h3core, text as textf


def _i64(u64_arr):
    return pd.Series(u64_arr.view(np.int64))


def _u64(ser: pd.Series):
    return ser.to_numpy(dtype=np.int64).view(np.uint64)


# -- H3 kernels --------------------------------------------------------------

def make_latlng_to_cell(res: int):
    @pandas_udf(T.LongType())
    def latlng_to_cell_udf(lat: pd.Series, lng: pd.Series) -> pd.Series:
        return _i64(h3core.latlng_to_cell(
            lat.to_numpy(dtype=np.float64), lng.to_numpy(dtype=np.float64),
            res))
    return latlng_to_cell_udf


@pandas_udf(T.DoubleType())
def cell_lat(cell: pd.Series) -> pd.Series:
    la, _ = h3core.cell_to_latlng(_u64(cell))
    return pd.Series(la)


@pandas_udf(T.DoubleType())
def cell_lng(cell: pd.Series) -> pd.Series:
    _, lo = h3core.cell_to_latlng(_u64(cell))
    return pd.Series(lo)


def make_cell_to_parent(parent_res: int):
    @pandas_udf(T.LongType())
    def cell_to_parent_udf(cell: pd.Series) -> pd.Series:
        return _i64(h3core.cell_to_parent(_u64(cell), parent_res))
    return cell_to_parent_udf


@pandas_udf(T.StringType())
def cell_str(cell: pd.Series) -> pd.Series:
    return pd.Series(h3core.cell_to_string(_u64(cell)))


# -- text / page kernels -----------------------------------------------------

@pandas_udf(T.StringType())
def lang_id_udf(text: pd.Series) -> pd.Series:
    return textf.lang_id(text)


@pandas_udf(T.LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    return _i64(textf.simhash64(text))


def make_minhash(num_perm: int = 32, ngram: int = 3):
    @pandas_udf(T.ArrayType(T.LongType()))
    def minhash_udf(text: pd.Series) -> pd.Series:
        sig = textf.minhash_signature(text, num_perm, ngram).view(np.int64)
        return pd.Series(list(sig))
    return minhash_udf


@pandas_udf(T.LongType())
def fingerprint_udf(text: pd.Series) -> pd.Series:
    return _i64(textf.rolling_fingerprint(text))


# -- geometry ---------------------------------------------------------------

def pip_udf_for(packed_bc):
    """point-in-polygon over a broadcast PackedPolygons.to_arrays()."""
    from . import geo as geomod

    @pandas_udf(T.BooleanType())
    def pip(lat: pd.Series, lng: pd.Series) -> pd.Series:
        pp = geomod.PackedPolygons(*packed_bc.value)
        return pd.Series(geomod.points_in_polys(
            lat.to_numpy(dtype=np.float64), lng.to_numpy(dtype=np.float64),
            pp))
    return pip


# -- relational expression helpers (pure Column math, no UDF) ----------------

def reference_radius_expr(lat_col, lng_col, center_lat, center_lng):
    """the reference's radius WHERE clause as a Column expression
    (geomesh.py:1252-1299): acos(sin(lat*0.0175)*sin(clat*0.0175) +
    cos(lat*0.0175)*cos(clat*0.0175)*cos(clng*0.0175 - lng*0.0175))*6371.
    Pure built-in functions -> stays in whole-stage codegen."""
    la = F.col(lat_col) * F.lit(0.0175)
    lo = F.col(lng_col) * F.lit(0.0175)
    cla = F.lit(center_lat * 0.0175)
    clo = F.lit(center_lng * 0.0175)
    return F.acos(
        F.sin(la) * F.sin(cla) + F.cos(la) * F.cos(cla) * F.cos(clo - lo)
    ) * F.lit(6371.0)


def cell_to_parent_expr(cell_col, parent_res: int):
    """cell_to_parent as PURE JVM bit math (no Python stage): clear the
    res nibble, set parent_res, fill digits below parent_res with 7s.
    Works on int64-encoded cells; bit-identical to h3core.cell_to_parent."""
    res_mask = 0xF << 52
    fill = 0
    for r in range(parent_res + 1, 16):
        fill |= 7 << ((15 - r) * 3)
    col = cell_col if not isinstance(cell_col, str) else F.col(cell_col)
    return (col.bitwiseAND(F.lit(~res_mask))
            .bitwiseOR(F.lit(parent_res << 52))
            .bitwiseOR(F.lit(fill)))
