"""Ported reference correlator suite (test/geoserver_test/test_correlator.py,
all 5 scenarios + FIXTURES.md SS7) over the REAL golden flood datasets.

The reference suite is stale (defect D5: passes pydantic lists where the
code needs a DataFrame); its documented expectations are authoritative and
are asserted here against our Spark correlator.
"""

import pytest


def _correlate(engine, assets_df, specs, ids=None):
    df = assets_df
    if ids is not None:
        df = assets_df.filter(assets_df.id.isin(ids))
    return engine.correlate(df, specs, resolution=7)


def test_output_contains_all_cell_resolutions(engine, assets_df):
    out = _correlate(engine, assets_df, [
        {"name": "flood_0010y",
         "filters": [{"column": "flood_risk_max",
                      "filter_type": "greater_than", "target_value": -0.1}]}
    ], ids=["Berlin"])
    cols = out.columns
    for i in range(16):
        assert f"cell_{i}" in cols
    assert out.count() == 1


def test_drop_if_no_match(engine, spark):
    outside = spark.createDataFrame([("NOT_IN_GERMANY", 0.0, 0.0)],
                                    "id string, lat double, long double")
    out = _correlate(engine, outside, [
        {"name": "flood_0010y",
         "filters": [{"column": "flood_risk_max",
                      "filter_type": "greater_than", "target_value": -0.1}]}
    ])
    assert out.count() == 0


def test_one_filter(engine, assets_df):
    out = _correlate(engine, assets_df, [
        {"name": "flood_0010y",
         "filters": [{"column": "flood_risk_max",
                      "filter_type": "greater_than", "target_value": 4}]}
    ], ids=["Berlin", "Frankfurt", "Brunsbuettel"])
    ids = {r["id"] for r in out.select("id").collect()}
    assert ids == {"Berlin", "Frankfurt"}


def test_multiple_filters_one_dataset(engine, assets_df):
    out = _correlate(engine, assets_df, [
        {"name": "flood_0010y",
         "filters": [
             {"column": "flood_risk_max", "filter_type": "lesser_than",
              "target_value": 7},
             {"column": "flood_risk_min", "filter_type": "greater_than",
              "target_value": 0.1}]}
    ], ids=["Berlin", "Frankfurt", "Brunsbuettel"])
    ids = {r["id"] for r in out.select("id").collect()}
    assert ids == {"Brunsbuettel"}


def test_multiple_datasets_no_filters_39_columns(engine, assets_df):
    out = _correlate(engine, assets_df, [
        {"name": "flood_0010y", "filters": []},
        {"name": "flood_1000y", "filters": []},
    ], ids=["Berlin", "Frankfurt", "Brunsbuettel"])
    # 16 cell cols + id/lat/long + 2x h3_cell + 2x4 risk + 2x5 meta = 39
    assert len(out.columns) == 39
    assert out.count() == 3


def test_two_datasets_filters_null_semantics(engine, assets_df):
    """two chained datasets with filters -> only Bremen survives
    (Brunsbuettel fails the 1000y max>4, Cologne's cell is absent from
    0010y, Berlin/Frankfurt fail the 0010y filters); NULL-passes-filter
    (correlator.py:209) is covered by correlator_null_filters."""
    out = _correlate(engine, assets_df, [
        {"name": "flood_0010y",
         "filters": [
             {"column": "flood_risk_max", "filter_type": "lesser_than",
              "target_value": 7.3},
             {"column": "flood_risk_min", "filter_type": "greater_than",
              "target_value": 0.1}]},
        {"name": "flood_1000y",
         "filters": [
             {"column": "flood_risk_max", "filter_type": "greater_than",
              "target_value": 4},
             {"column": "flood_risk_min", "filter_type": "greater_than",
              "target_value": 0.03}]},
    ])
    ids = {r["id"] for r in out.select("id").collect()}
    assert ids == {"Bremen"}


def test_unknown_filter_column_raises(engine, assets_df):
    with pytest.raises(ValueError, match="not in dataset"):
        _correlate(engine, assets_df, [
            {"name": "flood_0010y",
             "filters": [{"column": "nope", "filter_type": "equal_to",
                          "target_value": 1}]}]).count()


def test_pandas_and_spark_assets_give_identical_rows(engine, spark):
    """assets already on the driver (a pandas frame) get their cells
    there; a Spark DataFrame gets them in a mapInPandas pass. Same rows
    either way, across the antimeridian and above 85 degrees too."""
    import numpy as np
    import pandas as pd

    from osc_geo_h3grid_srv_spark.functions import h3core
    assets = pd.DataFrame({
        "id": ["Berlin", "Bremen", "Cologne", "Fiji", "Arctic"],
        "lat": [52.52, 53.08, 50.95, -16.8, 86.3],
        "long": [13.400, 8.803, 6.950, 179.9999, -40.0]})
    # a dataset holding every asset's res-7 cell, so no asset drops out
    cells = h3core.cell_to_string(h3core.latlng_to_cell(
        assets["lat"].to_numpy(), assets["long"].to_numpy(), 7))
    engine.load_dataset_from_df(
        "asset_cells", spark.createDataFrame(pd.DataFrame({
            "h3_cell": cells, "latitude": assets["lat"],
            "longitude": assets["long"], "v": np.arange(5.0)})),
        dataset_type="h3", key_columns={"h3_cell": "VARCHAR"},
        value_columns={"v": "DOUBLE"})
    sdf = spark.createDataFrame(assets, "id string, lat double, long double")
    for specs, n in (([{"name": "asset_cells", "filters": []}], 5),
                     ([{"name": "flood_0010y", "filters": []}], 2)):
        local = engine.correlate(assets, specs)
        dist = engine.correlate(sdf, specs)
        assert local.schema == dist.schema
        assert sorted(local.collect()) == sorted(dist.collect())
        assert local.count() == n
    assert all(f"cell_{r}" in local.columns for r in range(16))
