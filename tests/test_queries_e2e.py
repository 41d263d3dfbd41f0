"""Query-surface parity vs a DuckDB oracle executing the reference's
assembled SQL over the same fixture tables (SURVEY.md SS5.2 item 4).

The oracle SQL strings mirror what the reference builds in
geomesh.py:1252-1299 (radius), 1140-1186 (time filters), 769-776 (cell
point), 279-283 (projection). Row sets are compared order-insensitively
(the reference never ORDERs - SURVEY.md SS2.5).
"""

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from osc_geo_h3grid_srv_spark.functions import geo, h3core

FIX = os.path.join(os.path.dirname(__file__), "fixtures")
VALUE_COLS = ("flood_risk_min, flood_risk_max, flood_risk_median, "
              "flood_risk_mean, scenario, risk_window, date_range")


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    con.sql(f"create view flood as select * from "
            f"read_parquet('{FIX}/flood_0010y.parquet')")
    return con


def _rowset(df):
    pdf = df.toPandas() if hasattr(df, "toPandas") else df
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return set(map(tuple, pdf.round(4).astype(str).values.tolist()))


def test_radius_query_matches_reference_sql(engine, oracle):
    # the documented Berlin example (docs/README-geospatial.md:142-153)
    lat, lng, radius = 52.518, 13.405, 20.0
    got = engine.radius("flood_0010y", lat, lng, radius, resolution=7)
    want = oracle.sql(f"""
        select h3_cell, latitude, longitude, {VALUE_COLS} from flood
        where acos(sin(latitude*0.0175)*sin({lat}*0.0175)
              + cos(latitude*0.0175)*cos({lat}*0.0175)
              * cos(({lng}*0.0175) - (longitude*0.0175))) * 6371 <= {radius}
    """).df()
    assert len(want) > 0
    assert _rowset(got) == _rowset(want)


def test_radius_minus_one_returns_all(engine, oracle):
    got = engine.radius("flood_0010y", 52.518, 13.405, -1, resolution=7)
    assert got.count() == 24633


def test_radius_below_minimum_raises(engine):
    with pytest.raises(ValueError, match="below minimum"):
        engine.radius("flood_0010y", 52.518, 13.405, 0.5, resolution=7)


def test_cell_point_matches(engine, oracle):
    # the docs' example cell (README-geospatial.md:142-218)
    cell = "871f1d489ffffff"
    got = engine.cell_point("flood_0010y", cell)
    want = oracle.sql(
        f"select h3_cell, latitude, longitude, {VALUE_COLS} from flood "
        f"where h3_cell = '{cell}'").df()
    assert len(want) == 1
    assert _rowset(got) == _rowset(want)


def test_latlong_point_matches(engine, oracle):
    lat, lng = 52.518, 13.405
    cell = h3core.cell_to_string(
        h3core.latlng_to_cell(np.array([lat]), np.array([lng]), 7))[0]
    got = engine.latlong_point("flood_0010y", lat, lng, resolution=7)
    want = oracle.sql(
        f"select h3_cell, latitude, longitude, {VALUE_COLS} from flood "
        f"where h3_cell = '{cell}'").df()
    assert _rowset(got) == _rowset(want)


def test_bounding_box_matches(engine, oracle):
    a, b, c, d = 50.0, 52.0, 8.0, 11.0
    got = engine.bounding_box("flood_0010y", a, b, c, d)
    want = oracle.sql(f"""
        select h3_cell, latitude, longitude, {VALUE_COLS} from flood
        where latitude between {a} and {b} and longitude between {c} and {d}
    """).df()
    assert len(want) > 100
    assert _rowset(got) == _rowset(want)


def test_shapefile_get_matches_polyfill_membership(engine, oracle):
    """shapefile retrieval == IN-list over polyfill(buffered region),
    which is exactly the reference's chunked IN query (geomesh.py:238-288)."""
    shell = [(50.0, 8.0), (50.0, 11.0), (52.0, 11.0), (52.0, 8.0)]
    pp = geo.PackedPolygons.from_latlng_rings([[shell]], ["box"])
    got = engine.shapefile_get("flood_0010y", pp, region="box", resolution=7)
    cells = h3core.cell_to_string(
        geo.polyfill(pp, 7, buffer_deg=geo.get_buffer_deg(7)))
    lst = ",".join(f"'{c}'" for c in cells.tolist())
    want = oracle.sql(
        f"select h3_cell, latitude, longitude, {VALUE_COLS} from flood "
        f"where h3_cell in ({lst})").df()
    assert len(want) > 100
    assert _rowset(got) == _rowset(want)


def test_shapefile_get_from_real_shp_bundle(engine, oracle, tmp_path):
    """S4 e2e: the same shapefile query driven from a registered zip
    containing only real .shp/.shx/.dbf (no geojson) must answer
    identically to the in-memory polygon path."""
    import zipfile

    from osc_geo_h3grid_srv_spark.sources import shapefile as shpio
    from osc_geo_h3grid_srv_spark.sources.repository import (
        ShapefileRepository)
    shell = [(50.0, 8.0), (50.0, 11.0), (52.0, 11.0), (52.0, 8.0)]
    base = str(tmp_path / "box")
    shpio.write_shapefile([[(shell, False)]], base, names=["box"])
    z = tmp_path / "box.zip"
    with zipfile.ZipFile(z, "w") as zf:
        for ext in (".shp", ".shx", ".dbf"):
            zf.write(base + ext, "box" + ext)
    repo = ShapefileRepository(str(tmp_path / "repo"))
    repo.register("box", str(z))
    pp = repo.load("box")
    got = engine.shapefile_get("flood_0010y", pp, region="box",
                               resolution=7)
    pp_mem = geo.PackedPolygons.from_latlng_rings([[shell]], ["box"])
    want = engine.shapefile_get("flood_0010y", pp_mem, region="box",
                                resolution=7)
    assert got.count() > 100
    assert _rowset(got) == _rowset(want)


def test_time_filter_inference_errors(engine, spark):
    """monthly dataset requires year+month (geomesh.py:1140-1186)."""
    pdf = pd.DataFrame({
        "h3_cell": ["871f1d489ffffff"], "latitude": [51.0],
        "longitude": [10.0], "temp": [5.0], "year": [2022], "month": [12]})
    engine.load_dataset_from_df(
        "monthly_ds", spark.createDataFrame(pdf), dataset_type="h3",
        key_columns={"h3_cell": "VARCHAR", "year": "INTEGER",
                     "month": "INTEGER"},
        value_columns={"temp": "DOUBLE"})
    with pytest.raises(ValueError, match="requires 'month'"):
        engine.radius("monthly_ds", 51.0, 10.0, -1, resolution=7, year=2022)
    got = engine.radius("monthly_ds", 51.0, 10.0, -1, resolution=7,
                        year=2022, month=12)
    assert got.count() == 1
    assert engine.radius("monthly_ds", 51.0, 10.0, -1, resolution=7,
                         year=2021, month=12).count() == 0

