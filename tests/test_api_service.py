"""Call-compatible REST surface (VERDICT r01 what's-missing #2): the 11
reference endpoints as GeoMeshService routes with ported argument-model
defaults/validation, answering identically to direct engine calls."""

import pytest

from osc_geo_h3grid_srv_spark.api import (AssetFilter, DatasetArg,
                                          GeomeshLatLongRadiusArgs,
                                          GeomeshShapefileArgs,
                                          GeoMeshService)
from osc_geo_h3grid_srv_spark.sources import shapefile as shpio


@pytest.fixture(scope="module")
def service(engine):
    return GeoMeshService(engine)


def _rows(payload):
    return {tuple(r) for r in payload["data"]}


def test_route_table_covers_11_endpoints(service):
    assert len(service.routes) == 11
    assert ("GET", "/api/geomesh/showmeta") in service.routes
    assert ("POST", "/api/datasets/point/shapefile/{dataset}") \
        in service.routes


def test_arg_model_defaults_and_validation():
    a = GeomeshLatLongRadiusArgs(latitude=52.0, longitude=13.0, radius=20)
    assert a.resolution == 3 and a.year is None  # router default res 3
    assert GeomeshShapefileArgs(shapefile="x").resolution == 7
    with pytest.raises(ValueError, match="missing required"):
        GeomeshLatLongRadiusArgs(latitude=52.0, longitude=13.0)
    with pytest.raises(ValueError, match="cannot coerce"):
        GeomeshLatLongRadiusArgs(latitude="abc", longitude=1.0, radius=1.0)
    with pytest.raises(ValueError, match="filter_type"):
        AssetFilter(column="c", filter_type="nope", target_value=1.0)
    d = DatasetArg(name="ds", filters=[{"column": "c",
                                        "filter_type": "equal_to",
                                        "target_value": 2}])
    assert d.filters[0].target_value == 2.0


def test_latlong_radius_matches_engine(service, engine):
    got = service.post("/api/geomesh/latlong/radius/{dataset}",
                       dataset="flood_0010y",
                       body={"latitude": 52.518, "longitude": 13.405,
                             "radius": 20.0, "resolution": 7})
    want = engine.radius("flood_0010y", 52.518, 13.405, 20.0, resolution=7)
    assert len(got["data"]) == want.count() > 0


def test_cell_endpoints(service):
    cell = "871f1d489ffffff"
    pt = service.post("/api/geomesh/cell/point/{dataset}",
                      dataset="flood_0010y", body={"cell": cell})
    assert len(pt["data"]) == 1
    rad = service.post("/api/geomesh/cell/radius/{dataset}",
                       dataset="flood_0010y",
                       body={"cell": cell, "radius": 25.0})
    assert len(rad["data"]) >= 1


def test_shapefile_endpoint_from_real_shp(service, tmp_path):
    shell = [(50.0, 8.0), (50.0, 11.0), (52.0, 11.0), (52.0, 8.0)]
    base = str(tmp_path / "box")
    shpio.write_shapefile([[(shell, False)]], base, names=["box"])
    out = service.post("/api/geomesh/shapefile/{dataset}",
                       dataset="flood_0010y",
                       body={"shapefile": base + ".shp", "region": "box"})
    assert len(out["data"]) > 100


def test_filter_assets_and_showmeta(service):
    out = service.post("/api/geomesh/filter", body={
        "assets": [{"id": "Bremen", "lat": 53.08, "long": 8.803},
                   {"id": "Berlin", "lat": 52.52, "long": 13.400}],
        "datasets": [{"name": "flood_0010y",
                      "filters": [{"column": "flood_risk_max",
                                   "filter_type": "lesser_than",
                                   "target_value": 7.3},
                                  {"column": "flood_risk_min",
                                   "filter_type": "greater_than",
                                   "target_value": 0.1}]}]})
    ids = {r[out["columns"].index("id")] for r in out["data"]}
    assert ids == {"Bremen"}
    meta = service.get("/api/geomesh/showmeta")
    names = {r[meta["columns"].index("dataset_name")] for r in meta["data"]}
    assert {"flood_0010y", "flood_1000y"} <= names
    with pytest.raises(KeyError):
        service.get("/api/geomesh/nope")


def _filter_plan(service, monkeypatch, assets):
    """the executed plan of one POST /api/geomesh/filter request."""
    from osc_geo_h3grid_srv_spark import api
    frames = []
    real = api.df_payload
    monkeypatch.setattr(api, "df_payload",
                        lambda df: frames.append(df) or real(df))
    service.post("/api/geomesh/filter", body={
        "assets": assets,
        "datasets": [{"name": "flood_0010y", "filters": []}]})
    return frames[0]._jdf.queryExecution().executedPlan().toString()


def test_filter_plan_has_a_python_stage_only_for_parquet_assets(
        service, monkeypatch, tmp_path, spark):
    listed = [{"id": "Bremen", "lat": 53.08, "long": 8.803}]
    plan = _filter_plan(service, monkeypatch, listed)
    for python_stage in ("MapInPandas", "ArrowEvalPython",
                         "BatchEvalPython"):
        assert python_stage not in plan
    path = str(tmp_path / "assets.parquet")
    spark.createDataFrame([("Bremen", 53.08, 8.803)],
                          "id string, lat double, long double") \
        .write.parquet(path)
    assert "MapInPandas" in _filter_plan(service, monkeypatch, path)
