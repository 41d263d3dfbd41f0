"""CLI layer (VERDICT r01 next-step #7): thin argparse front-ends over
GeoMeshEngine mirroring the reference's integration scenarios
(integration-test/test_geomeshcli.py): filter-assets city
inclusion/exclusion and the registered-metadata list, plus the
shapefile and repository CLIs."""

import json
import os
import zipfile

import pytest

from osc_geo_h3grid_srv_spark.cli import (cli_geospatial, cli_repository,
                                          cli_shapefile)
from osc_geo_h3grid_srv_spark.sources import shapefile as shpio

TWO_DATASETS = [
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
]


@pytest.fixture(scope="module")
def cli_files(tmp_path_factory, assets_df):
    d = tmp_path_factory.mktemp("cli")
    assets = str(d / "germany_5_assets.parquet")
    assets_df.toPandas().to_parquet(assets)
    two = str(d / "germany_datasets.json")
    with open(two, "w") as fh:
        json.dump(TWO_DATASETS, fh)
    one = str(d / "germany_one_dataset.json")
    with open(one, "w") as fh:
        json.dump(TWO_DATASETS[:1], fh)
    return {"assets": assets, "two": two, "one": one}


def test_cli_filter_multiple_datasets(engine, warehouse, spark, cli_files):
    """mirror of test_geomeshcli.test_filter_multiple_datasets: the 1000y
    filters keep only Bremen."""
    out = cli_geospatial.execute([
        "--database-dir", warehouse,
        "filter-assets",
        "--asset-file", cli_files["assets"],
        "--dataset-file", cli_files["two"],
        "--return-rows", "-1"], spark=spark)
    assert "Bremen" in out
    assert "Brunsbuettel" not in out
    assert "Cologne" not in out
    assert "Frankfurt" not in out
    assert "Berlin" not in out


def test_cli_filter_one_dataset(engine, warehouse, spark, cli_files):
    """mirror of test_geomeshcli.test_filter_one_dataset (same city
    in/out sets): 0010y max<7.3/min>0.1 keeps Bremen and Brunsbuettel;
    Cologne's cell is not in 0010y, Berlin/Frankfurt fail the filters."""
    out = cli_geospatial.execute([
        "--database-dir", warehouse,
        "filter-assets",
        "--asset-file", cli_files["assets"],
        "--dataset-file", cli_files["one"],
        "--return-rows", "-1"], spark=spark)
    assert "Bremen" in out
    assert "Brunsbuettel" in out
    assert "Cologne" not in out
    assert "Frankfurt" not in out
    assert "Berlin" not in out


def test_cli_return_rows_exact(engine, warehouse, spark, cli_files):
    """defect D6 fixed: --return-rows N returns exactly N rows (the
    reference slices [0:N+1])."""
    out = cli_geospatial.execute([
        "--database-dir", warehouse,
        "filter-assets",
        "--asset-file", cli_files["assets"],
        "--dataset-file", cli_files["one"],
        "--return-rows", "1"], spark=spark)
    data = json.loads(out.split("data (showing 1 rows):", 1)[1])
    assert len(data) == 1


def test_cli_showmeta(engine, warehouse, spark):
    """mirror of test_geomeshcli.test_metadata_endpoint."""
    out = cli_geospatial.execute(
        ["--database-dir", warehouse, "showmeta"], spark=spark)
    assert "flood_0010y" in out
    assert "flood_1000y" in out


def test_cli_addmeta_then_load(spark, tmp_path):
    """reference order: addmeta registers first, a load then writes the
    data; showmeta lists the dataset once and a second addmeta is
    refused."""
    from osc_geo_h3grid_srv_spark.engine import GeoMeshEngine
    wh = str(tmp_path / "wh")
    addmeta = ["--database-dir", wh, "addmeta", "--dataset_name", "cells",
               "--description", "cells registered before load",
               "--key_columns", '{"h3_cell": "VARCHAR"}',
               "--value_columns", '{"v": "DOUBLE"}',
               "--dataset_type", "h3"]
    assert "Created Metadata Entry for cells" in cli_geospatial.execute(
        addmeta, spark=spark)
    GeoMeshEngine(spark, wh).load_dataset_from_df(
        "cells", spark.createDataFrame([("8a1fb46622dffff", 1.0)],
                                       "h3_cell string, v double"),
        dataset_type="h3", key_columns={"h3_cell": "VARCHAR"},
        value_columns={"v": "DOUBLE"},
        description="cells registered before load")
    meta = json.loads(cli_geospatial.execute(
        ["--database-dir", wh, "showmeta"], spark=spark))
    names = [r[meta["columns"].index("dataset_name")] for r in meta["data"]]
    assert names == ["cells"]
    with pytest.raises(ValueError, match="already registered"):
        cli_geospatial.execute(addmeta, spark=spark)


def test_cli_show_radius(engine, warehouse, spark):
    """show --latitude/--longitude/--radius drives the radius query."""
    out = cli_geospatial.execute([
        "--database-dir", warehouse,
        "show", "--dataset", "flood_0010y",
        "--latitude", "52.518", "--longitude", "13.405",
        "--radius", "20", "--resolution", "7"], spark=spark)
    payload = json.loads(out)
    assert "h3_cell" in payload["columns"]
    assert len(payload["data"]) > 0


def test_cli_show_cell_point(engine, warehouse, spark):
    out = cli_geospatial.execute([
        "--database-dir", warehouse,
        "show", "--dataset", "flood_0010y",
        "--cell", "871f1d489ffffff"], spark=spark)
    payload = json.loads(out)
    assert len(payload["data"]) == 1


def test_cli_initialize(tmp_path):
    d = str(tmp_path / "newdb")
    assert cli_geospatial.execute(
        ["--database-dir", d, "initialize"]) == "true"
    assert cli_geospatial.execute(
        ["--database-dir", d, "initialize"]) == "false"
    # ADVICE r02: missing --database-dir gives the clean SystemExit
    # message, not a TypeError from os.path.exists(None)
    import pytest
    with pytest.raises(SystemExit, match="--database-dir is required"):
        cli_geospatial.execute(["initialize"])


_SHELL = [(47.0, 5.5), (49.5, 10.0), (47.0, 15.5), (52.0, 13.0),
          (55.5, 15.5), (55.5, 5.5), (51.0, 8.0)]
_HOLE = [(52.5, 9.0), (52.5, 10.5), (54.0, 10.5), (54.0, 9.0)]


@pytest.fixture(scope="module")
def shp_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("shp")
    base = str(d / "region")
    shpio.write_shapefile([[(_SHELL, False), (_HOLE, True)]], base,
                          names=["region"])
    return base + ".shp"


def test_cli_shapefile_statistics(shp_path):
    out = json.loads(cli_shapefile.execute(
        ["statistics", "--shapefile", shp_path]))
    assert out["count_polygons"] == 1
    assert out["count_vertices"] == 11
    assert out["mean_num_holes"] == 1.0
    assert out["coordinate_system"] == "EPSG:4326"
    assert out["total_bounds"] == [5.5, 47.0, 15.5, 55.5]


def test_cli_shapefile_simplify_writes_shp(shp_path, tmp_path):
    dest = str(tmp_path / "simple")
    out = json.loads(cli_shapefile.execute(
        ["simplify", "--shapefile", shp_path, "--tolerance", "0.05",
         "--path", dest]))
    assert out["count_polygons"] == 1
    back = shpio.read_shp(dest + ".shp")
    assert len(back) == 1


def test_cli_shapefile_buffer_grows_area(shp_path, tmp_path):
    base = json.loads(cli_shapefile.execute(
        ["statistics", "--shapefile", shp_path]))
    dest = str(tmp_path / "buffered")
    out = json.loads(cli_shapefile.execute(
        ["buffer", "--shapefile", shp_path, "--distance", "0.3",
         "--units", "degrees", "--path", dest]))
    assert out["mean_area"] > base["mean_area"]
    # meters variant converts at 111 km/deg (reference shape.py:223-227)
    out_m = json.loads(cli_shapefile.execute(
        ["buffer", "--shapefile", shp_path, "--distance",
         str(0.3 * 111000), "--units", "meters"]))
    assert abs(out_m["mean_area"] - out["mean_area"]) < 1e-9
    with pytest.raises(SystemExit):
        cli_shapefile.execute(["buffer", "--shapefile", shp_path,
                               "--distance", "-1", "--units", "degrees"])


def test_cli_shapefile_view_writes_html(shp_path, tmp_path):
    dest = str(tmp_path / "map.html")
    out = json.loads(cli_shapefile.execute(
        ["view", "--shapefile", shp_path, "--path", dest]))
    assert out["status"] == "successful"
    html = open(dest).read()
    assert "<svg" in html and "region" in html


def test_cli_repository_lifecycle(tmp_path):
    base = str(tmp_path / "ger")
    shpio.write_shapefile([[(_SHELL, False)]], base, names=["ger"])
    z = str(tmp_path / "bundle.zip")
    with zipfile.ZipFile(z, "w") as zf:
        for ext in (".shp", ".shx", ".dbf"):
            zf.write(base + ext, "ger" + ext)
    repo_dir = str(tmp_path / "repo")
    out = cli_repository.execute(
        ["--repository-dir", repo_dir, "register", "--name", "ger",
         "--contents", z])
    assert json.loads(out) == {"status": "successful"}
    out = cli_repository.execute(
        ["--repository-dir", repo_dir, "inventory"])
    assert json.loads(out) == ["ger"]
    with pytest.raises(SystemExit, match="already registered"):
        cli_repository.execute(
            ["--repository-dir", repo_dir, "register", "--name", "ger",
             "--contents", z])
    out = cli_repository.execute(
        ["--repository-dir", repo_dir, "unregister", "--name", "ger"])
    assert json.loads(out) == {"status": "successful"}
    assert json.loads(cli_repository.execute(
        ["--repository-dir", repo_dir, "inventory"])) == []
