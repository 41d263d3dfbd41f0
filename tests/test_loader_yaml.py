"""YAML loader front-end e2e (VERDICT r02 What's-missing #1): a
giss-shaped CSVLoader config (reference
examples/getting-started/giss_2022_12.yml) drives CSV -> region clip ->
per-resolution IDW H3 grids -> catalog, and the result is queryable
through the engine's §2.9 surface with time filters."""

import math

import numpy as np
import pytest

from osc_geo_h3grid_srv_spark.sources import shapefile as shpio
from osc_geo_h3grid_srv_spark.sources.loader import LoaderConfig

# triangle region (bbox != polygon, so the PIP clip is observable)
_TRI = [(47.0, 6.0), (47.0, 15.0), (55.0, 10.5)]


def _fixture_csv(tmp_path):
    rng = np.random.RandomState(3)
    rows = ["latitude,longitude,year,month,temperature"]
    pts = []
    for i in range(120):
        lat = 47.0 + 8.0 * rng.rand()
        lng = 6.0 + 9.0 * rng.rand()
        for (y, m, base) in ((2022, 12, 0.0), (2023, 1, 100.0)):
            v = base + round(rng.rand() * 30, 3)
            rows.append(f"{lat:.6f},{lng:.6f},{y},{m},{v}")
            pts.append((round(lat, 6), round(lng, 6), y, m, v))
    # world-clip victim (lat < -60) and far-outside-bbox point
    rows.append("-75.0,10.0,2022,12,999.0")
    rows.append("20.0,100.0,2022,12,999.0")
    p = tmp_path / "giss.csv"
    p.write_text("\n".join(rows) + "\n")
    return str(p), pts


def _yaml(tmp_path, csv_path, shp_base, name, max_res=3, mode="create"):
    return f"""
loader_type: CSVLoader
dataset_name: {name}
dataset_type: h3
interval: monthly
max_resolution: {max_res}
data_columns: [temperature]
year_column: year
month_column: month

file_path: {csv_path}
has_header_row: true
columns:
  latitude: float
  longitude: float
  year: int
  month: int
  temperature: float
mode: {mode}

shapefile: {shp_base}.shp
region: Trigland
"""


def _pip_triangle(lat, lng):
    # even-odd ray cast over the closed triangle
    ring = _TRI + [_TRI[0]]
    inside = False
    for (y1, x1), (y2, x2) in zip(ring[:-1], ring[1:]):
        if (y1 > lat) != (y2 > lat):
            x = x1 + (lat - y1) / (y2 - y1) * (x2 - x1)
            if x > lng:
                inside = not inside
    return inside


def _hav(a, b, c, d):
    p1, p2 = math.radians(a), math.radians(c)
    h = (math.sin((p2 - p1) / 2) ** 2 + math.cos(p1) * math.cos(p2)
         * math.sin(math.radians(d - b) / 2) ** 2)
    return 2 * 6371.0088 * math.asin(math.sqrt(h))


@pytest.fixture(scope="module")
def loaded(engine, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("loader")
    csv_path, pts = _fixture_csv(tmp_path)
    base = str(tmp_path / "trigland")
    shpio.write_shapefile([[(_TRI, False)]], base, names=["Trigland"])
    tables = engine.load_from_config(
        _yaml(tmp_path, csv_path, base, "gisstest"))
    return engine, tables, pts


def test_tables_written_per_resolution(loaded):
    engine, tables, _ = loaded
    assert sorted(tables) == [0, 1, 2, 3]
    for res, tname in tables.items():
        df = engine.catalog.load(tname)
        cols = set(df.columns)
        assert {"h3_cell", "latitude", "longitude", "temperature",
                "year", "month"} <= cols
        meta = engine.catalog.get_ds_metadata(tname)
        assert meta["dataset_type"] == "h3"
        if res >= 2:
            # res 0/1 grids are legitimately empty for a region smaller
            # than a coarse cell (polyfill centroid rule, no buffer at
            # res 0); finer grids must be populated
            assert df.count() > 0


def test_interval_inferred_and_time_filter(loaded):
    engine, tables, _ = loaded
    assert engine.catalog.ds_interval(tables[3]) == "monthly"
    df = engine.catalog.load(tables[3])
    n_total = df.count()
    one = engine.queries(tables[3])._timed(2022, 12, None)
    assert 0 < one.count() < n_total
    # every cell appears once per slice
    import pyspark.sql.functions as F
    dup = (df.groupBy("h3_cell", "year", "month").count()
           .filter(F.col("count") > 1).count())
    assert dup == 0


def test_idw_values_match_bruteforce_knn(loaded):
    """loader output equals true global kNN IDW (k=3, p=2) over the
    region-clipped points — the expanding-radius search must converge
    to the exact answer, not an approximation."""
    engine, tables, pts = loaded
    region_pts = [p for p in pts if _pip_triangle(p[0], p[1])]
    rows = engine.catalog.load(tables[2]).collect()
    assert rows
    for r in rows[:40]:
        sl = [p for p in region_pts if (p[2], p[3]) == (r["year"],
                                                        r["month"])]
        ds = sorted((_hav(r["latitude"], r["longitude"], p[0], p[1]),
                     p[4]) for p in sl)[:3]
        w = [1.0 / max(d, 1e-9) ** 2 for d, _ in ds]
        want = sum(wi * v for wi, (_, v) in zip(w, ds)) / sum(w)
        assert r["temperature"] == pytest.approx(want, rel=1e-9)


def test_region_and_world_clip_applied(loaded):
    """the 999.0 poison points (world-clipped / far outside) must not
    leak into any interpolated value; per-slice value ranges hold."""
    import pyspark.sql.functions as F
    engine, tables, _ = loaded
    df = engine.catalog.load(tables[3])
    mx = df.agg(F.max("temperature")).collect()[0][0]
    assert mx < 200.0
    s22 = df.filter("year = 2022").agg(F.max("temperature")).collect()[0][0]
    s23 = df.filter("year = 2023").agg(F.min("temperature")).collect()[0][0]
    assert s22 < 50.0 and s23 >= 100.0


def test_radius_query_over_loaded_dataset(loaded):
    engine, tables, _ = loaded
    out = engine.radius(tables[3], 50.0, 10.0, 200.0, resolution=3,
                        year=2022, month=12)
    assert out.count() > 0
    assert "temperature" in out.columns


def test_mode_create_rejects_existing(loaded, tmp_path):
    engine, _, _ = loaded
    csv_path, _ = _fixture_csv(tmp_path)
    base = str(tmp_path / "trig2")
    shpio.write_shapefile([[(_TRI, False)]], base, names=["Trigland"])
    with pytest.raises(ValueError, match="mode=create"):
        engine.load_from_config(
            _yaml(tmp_path, csv_path, base, "gisstest"))
    # replace succeeds
    t = engine.load_from_config(
        _yaml(tmp_path, csv_path, base, "gisstest", max_res=0,
              mode="replace"))
    assert 0 in t


def test_replace_updates_registered_interval(engine, tmp_path):
    """mode: replace with another interval re-registers the tables, so
    queries take the new interval's time keys."""
    csv_path, _ = _fixture_csv(tmp_path)
    base = str(tmp_path / "trig3")
    shpio.write_shapefile([[(_TRI, False)]], base, names=["Trigland"])
    t = engine.load_from_config(
        _yaml(tmp_path, csv_path, base, "gissyr", max_res=2))
    assert engine.catalog.ds_interval(t[2]) == "monthly"
    engine.load_from_config(
        _yaml(tmp_path, csv_path, base, "gissyr", max_res=2,
              mode="replace").replace("interval: monthly",
                                      "interval: yearly"))
    assert engine.catalog.ds_interval(t[2]) == "yearly"
    assert engine.radius(t[2], 50.0, 10.0, 200.0, resolution=2,
                         year=2022).count() > 0


def test_config_validation():
    with pytest.raises(ValueError, match="loader_type"):
        LoaderConfig.from_dict({
            "loader_type": "ParquetLoader", "dataset_name": "x",
            "file_path": "f", "columns": {}, "data_columns": []})
    with pytest.raises(ValueError, match="requires month_column"):
        LoaderConfig.from_dict({
            "loader_type": "CSVLoader", "dataset_name": "x",
            "file_path": "f", "interval": "monthly",
            "year_column": "year",
            "columns": {"latitude": "float", "longitude": "float",
                        "year": "int", "t": "float"},
            "data_columns": ["t"]})
    with pytest.raises(ValueError, match="unknown loader config"):
        LoaderConfig.from_dict({
            "loader_type": "CSVLoader", "dataset_name": "x",
            "file_path": "f", "columns": {}, "data_columns": [],
            "frobnicate": 1})
    with pytest.raises(ValueError, match="unknown type"):
        LoaderConfig.from_dict({
            "loader_type": "CSVLoader", "dataset_name": "x",
            "file_path": "f",
            "columns": {"latitude": "float", "longitude": "float",
                        "t": "complex128"},
            "data_columns": ["t"]})
