"""The dataset registry lives in the snapshot manifests: a load commits
its data and its registry entry as one snapshot, an invalid entry is
refused before any data is written, a reload replaces the entry, and a
write without an entry keeps the one its parent snapshot holds."""

import numpy as np
import pytest

from osc_geo_h3grid_srv_spark.engine import GeoMeshEngine
from osc_geo_h3grid_srv_spark.functions import h3core
from osc_geo_h3grid_srv_spark.operators.index_pages import index_pages
from osc_geo_h3grid_srv_spark.sources.pages import pages_dataframe

KEYS = {"h3_cell": "VARCHAR", "year": "INTEGER", "month": "INTEGER"}


@pytest.fixture()
def eng(spark, tmp_path):
    return GeoMeshEngine(spark, str(tmp_path / "wh"))


def _cell_rows(spark, value_col, month=True):
    cell = h3core.latlng_to_cell(np.array([50.0]), np.array([10.0]), 3)
    la, lo = h3core.cell_to_latlng(cell)
    row = (str(h3core.cell_to_string(cell)[0]), float(la[0]), float(lo[0]),
           2022, 12, 1.5)
    cols = ["h3_cell", "latitude", "longitude", "year", "month", value_col]
    df = spark.createDataFrame([row], cols)
    return df if month else df.drop("month")


def test_invalid_entry_raises_before_any_write(eng, spark):
    with pytest.raises(ValueError, match="dataset_type"):
        eng.load_dataset_from_df(
            "bad", _cell_rows(spark, "temp"), dataset_type="polygon",
            key_columns=KEYS, value_columns={"temp": "DOUBLE"})
    with pytest.raises(ValueError, match="composite type"):
        eng.load_dataset_from_df(
            "bad", _cell_rows(spark, "temp"), dataset_type="h3",
            key_columns=KEYS, value_columns={"temp": "DOUBLE[]"})
    assert eng.catalog.current_snapshot("bad") is None
    with pytest.raises(KeyError, match="not registered in metadata"):
        eng.queries("bad")


def test_load_is_one_snapshot_with_data_and_entry(eng, spark):
    sid = eng.load_dataset_from_df(
        "temps", _cell_rows(spark, "temp"), dataset_type="h3",
        key_columns=KEYS, value_columns={"temp": "double"})
    man = eng.catalog.read_manifest("temps")
    assert sid == man["snapshot_id"] == 1
    assert man["total_rows"] == 1 and man["files"]
    assert man["lineage"] == {"stage": "load_dataset"}
    assert man["dataset"] == {
        "dataset_name": "temps", "description": "",
        "key_columns": KEYS, "value_columns": {"temp": "DOUBLE"},
        "dataset_type": "h3"}


def test_index_pages_is_one_snapshot_with_data_and_entry(eng, spark):
    pages = pages_dataframe(spark, 200, partitions=2)
    sid, rows = index_pages(eng.catalog, pages, dataset="pts", salt=2)
    man = eng.catalog.read_manifest("pts")
    assert sid == man["snapshot_id"] == 1
    assert man["total_rows"] == rows > 0
    assert man["lineage"]["stage"] == "index_pages"
    assert man["dataset"]["dataset_type"] == "point"
    # a rerun replaces data and entry in one more snapshot
    assert index_pages(eng.catalog, pages, dataset="pts", salt=2)[0] == 2
    assert eng.catalog.get_ds_metadata("pts") == man["dataset"]


def test_reload_replaces_the_entry(eng, spark):
    eng.load_dataset_from_df(
        "temps", _cell_rows(spark, "temp"), dataset_type="h3",
        key_columns=KEYS, value_columns={"temp": "DOUBLE"})
    assert eng.catalog.ds_interval("temps") == "monthly"
    eng.load_dataset_from_df(
        "temps", _cell_rows(spark, "temperature", month=False),
        dataset_type="h3",
        key_columns={"h3_cell": "VARCHAR", "year": "INTEGER"},
        value_columns={"temperature": "DOUBLE"})
    assert eng.catalog.ds_interval("temps") == "yearly"
    rows = eng.radius("temps", 50.0, 10.0, 200.0, resolution=3,
                      year=2022).collect()
    assert [r["temperature"] for r in rows] == [1.5]


def test_write_without_entry_keeps_the_parents(eng, spark):
    cat = eng.catalog
    assert cat.add_meta("pre", "registered before its load",
                        {"h3_cell": "varchar"}, {"v": "real"}, "h3") == 1
    entry = cat.get_ds_metadata("pre")
    assert cat.read_manifest("pre")["files"] == []
    df = spark.range(3).selectExpr("cast(id as string) h3_cell",
                                   "cast(id as float) v")
    cat.write("pre", df)
    cat.write("pre", df, mode="append")
    assert cat.compact("pre", target_bytes=1 << 30, min_files=1) == 4
    man = cat.read_manifest("pre")
    assert man["dataset"] == entry
    assert man["total_rows"] == 6
    with pytest.raises(ValueError, match="already registered"):
        cat.add_meta("pre", "again", {"h3_cell": "VARCHAR"}, {}, "h3")
    assert cat.current_snapshot("pre") == 4
    assert [r.dataset_name for r in cat.show_meta().collect()] == ["pre"]


def test_registered_without_data_refuses_queries(eng, spark):
    eng.catalog.add_meta("pre", "registered before its load", KEYS,
                         {"temp": "DOUBLE"}, "h3")
    with pytest.raises(ValueError, match="'pre'.*holds no data yet"):
        eng.radius("pre", 50.0, 10.0, 200.0, resolution=3, year=2022,
                   month=12)
    eng.load_dataset_from_df(
        "pre", _cell_rows(spark, "temp"), dataset_type="h3",
        key_columns=KEYS, value_columns={"temp": "DOUBLE"})
    rows = eng.radius("pre", 50.0, 10.0, 200.0, resolution=3, year=2022,
                      month=12).collect()
    assert [r["temp"] for r in rows] == [1.5]


def test_unregistered_names_raise(eng):
    cat = eng.catalog
    for name in ("nothing_here", "../wh", ""):
        with pytest.raises(KeyError, match="not registered in metadata"):
            cat.get_ds_metadata(name)
    assert cat.show_meta().count() == 0
