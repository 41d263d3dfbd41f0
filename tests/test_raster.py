"""Raster -> H3 tiling (operators/raster.py) against a pandas groupBy
over the same pixels."""

import numpy as np

from osc_geo_h3grid_srv_spark.functions import h3core
from osc_geo_h3grid_srv_spark.operators.raster import (
    raster_to_h3, synth_raster)


def test_raster_to_h3_matches_pandas(spark):
    raster = synth_raster(spark, 52.0, 13.0, 40, 40, 0.005, partitions=4)
    got = (raster_to_h3(raster, 7).toPandas()
           .sort_values("h3_cell").reset_index(drop=True))

    px = raster.toPandas()
    px["h3_cell"] = h3core.cell_to_string(h3core.latlng_to_cell(
        px["latitude"].to_numpy(), px["longitude"].to_numpy(), 7))
    want = (px.groupby("h3_cell")["value"]
            .agg(["min", "max", "median", "mean"]).reset_index()
            .sort_values("h3_cell").reset_index(drop=True))

    assert len(want) > 50
    assert list(got["h3_cell"]) == list(want["h3_cell"])
    for stat in ("min", "max", "median"):
        np.testing.assert_array_equal(got[f"flood_risk_{stat}"], want[stat])
    np.testing.assert_allclose(got["flood_risk_mean"], want["mean"],
                               rtol=1e-12)
    lat, lng = h3core.cell_to_latlng(
        h3core.string_to_cell(got["h3_cell"].to_numpy()))
    np.testing.assert_array_equal(got["latitude"], lat)
    np.testing.assert_array_equal(got["longitude"], lng)
