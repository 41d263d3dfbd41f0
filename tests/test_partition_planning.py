"""File planning from the snapshot manifest: Catalog.load(table,
partitions={column: values}) reads only the files whose recorded
partition value is in the set. Covers the value parse by schema type,
null partitions and time travel.
"""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from osc_geo_h3grid_srv_spark.functions import h3core
from osc_geo_h3grid_srv_spark.sources.catalog import Catalog


def _points(la, lo):
    la, lo = np.asarray(la, float), np.asarray(lo, float)
    cells9 = h3core.latlng_to_cell(la, lo, 9)
    return pd.DataFrame({
        "latitude": la, "longitude": lo,
        "res9": h3core.cell_to_string(cells9),
        "p1": h3core.cell_to_parent(cells9, 1).view(np.int64),
        "val": np.arange(len(la), dtype=np.float64)})


def _p1(la, lo):
    return set(h3core.cell_to_parent(h3core.latlng_to_cell(
        np.array(la, float), np.array(lo, float), 9), 1)
        .view(np.int64).tolist())


def test_plan_files_parses_by_schema_type():
    """values compare by the manifest schema's type, not by path string;
    escaped strings are unquoted; null partitions never match."""
    man = {"table": "t", "partition_by": ["n", "s"],
           "schema": [{"name": "n", "type": "bigint"},
                      {"name": "s", "type": "string"}],
           "files": [
               {"path": "a", "partition": {"n": "007", "s": "x%3Ay"}},
               {"path": "b", "partition": {"n": "8", "s": "x"}},
               {"path": "c", "partition": {
                   "n": "__HIVE_DEFAULT_PARTITION__", "s": "x"}}]}
    paths = [f["path"] for f in Catalog.plan_files(man, {"n": {7, 8}})]
    assert paths == ["a", "b"]
    paths = [f["path"] for f in Catalog.plan_files(man, {"s": {"x:y"}})]
    assert paths == ["a"]
    assert Catalog.plan_files(man, {"n": {8}, "s": {"x:y"}}) == []
    assert Catalog.plan_files(man) == man["files"]


def test_null_partition_is_never_selected(engine, spark):
    pdf = _points([52.5, 52.6, -33.9, 10.0], [13.4, 13.5, 151.2, 10.0])
    df = spark.createDataFrame(pdf).withColumn(
        "p1", F.when(F.col("val") == 3.0, F.lit(None))
        .otherwise(F.col("p1")))
    cat = engine.catalog
    cat.write("null_p1", df, mode="overwrite", partition_by=["p1"])
    man = cat.read_manifest("null_p1")
    assert any(f["partition"]["p1"] == "__HIVE_DEFAULT_PARTITION__"
               for f in man["files"])
    every = set(pdf["p1"].tolist())
    got = cat.load("null_p1", partitions={"p1": every})
    assert sorted(r["val"] for r in got.collect()) == [0.0, 1.0, 2.0]
    assert len(got.inputFiles()) == len(man["files"]) - 1
    berlin = cat.load("null_p1", partitions={"p1": _p1([52.5], [13.4])})
    assert sorted(r["val"] for r in berlin.collect()) == [0.0, 1.0]
    assert cat.load("null_p1").count() == 4


def test_time_travel_with_partitions(engine, spark):
    """an append adds new p1 partitions; the older snapshot, planned
    with the same candidate set, returns only its own files and rows."""
    cat = engine.catalog
    old = _points([52.5, 52.6], [13.4, 13.5])
    new = _points([-33.9, 35.7], [151.2, 139.7])
    s1 = cat.write("tt_parts", spark.createDataFrame(old),
                   mode="overwrite", partition_by=["p1"])
    cat.write("tt_parts", spark.createDataFrame(new), mode="append",
              partition_by=["p1"])
    parts = {"p1": set(old["p1"].tolist()) | set(new["p1"].tolist())}
    assert not set(new["p1"].tolist()) & set(old["p1"].tolist())
    then = cat.load("tt_parts", snapshot=s1, partitions=parts)
    s1_paths = {f["path"]
                for f in cat.read_manifest("tt_parts", s1)["files"]}
    assert then.inputFiles()
    assert all(any(p.endswith(s) for s in s1_paths)
               for p in then.inputFiles())
    assert then.count() == len(old)
    head = cat.load("tt_parts", partitions=parts)
    assert head.count() == len(old) + len(new)
