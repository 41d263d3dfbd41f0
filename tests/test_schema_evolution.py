"""Catalog additive schema evolution (round 4): appends may add or omit
nullable columns; each snapshot exposes exactly the columns it had
(time travel is schema-accurate); type conflicts are rejected; the
evolved schema survives compaction.
"""

import pytest
from pyspark.sql import functions as F

from osc_geo_h3grid_srv_spark.sources.catalog import Catalog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_adds_column(spark, tmp_path):
    cat = Catalog(str(tmp_path / "wh"), spark)
    cat.write("t", spark.range(3).select(
        F.col("id"), (F.col("id") * 2).alias("v")))
    cat.write("t", spark.range(3, 5).select(
        F.col("id"), (F.col("id") * 2).alias("v"),
        F.concat(F.lit("L"), F.col("id")).alias("lang")),
        mode="append")
    head = cat.load("t")
    assert head.columns == ["id", "v", "lang"]
    got = _rows(head)
    assert got == [(0, 0, None), (1, 2, None), (2, 4, None),
                   (3, 6, "L3"), (4, 8, "L4")]
    # snapshot 1 never shows the later column
    old = cat.load("t", snapshot=1)
    assert old.columns == ["id", "v"]
    assert _rows(old) == [(0, 0), (1, 2), (2, 4)]


def test_append_may_omit_column(spark, tmp_path):
    cat = Catalog(str(tmp_path / "wh"), spark)
    cat.write("t", spark.range(2).select(
        F.col("id"), F.lit("x").alias("tag")))
    cat.write("t", spark.range(2, 4).select("id"), mode="append")
    head = cat.load("t")
    assert head.columns == ["id", "tag"]
    assert _rows(head) == [(0, "x"), (1, "x"), (2, None), (3, None)]


def test_type_conflict_rejected(spark, tmp_path):
    cat = Catalog(str(tmp_path / "wh"), spark)
    cat.write("t", spark.range(2).select(
        F.col("id"), F.lit(1.5).alias("score")))
    with pytest.raises(ValueError, match="schema conflict"):
        cat.write("t", spark.range(2, 3).select(
            F.col("id"), F.lit("oops").alias("score")), mode="append")
    # the failed append must not have moved HEAD
    assert cat.current_snapshot("t") == 1


def test_evolution_survives_compaction(spark, tmp_path):
    cat = Catalog(str(tmp_path / "wh"), spark)
    cat.write("t", spark.range(0, 4, 1, 2).select(
        F.col("id"), (F.col("id") % 2).alias("v")))
    for b in range(2):
        cat.write("t", spark.range(4 + b, 5 + b).select(
            F.col("id"), (F.col("id") % 2).alias("v"),
            F.lit(b).alias("extra")), mode="append")
    before = _rows(cat.load("t"))
    sid = cat.compact("t", target_bytes=1 << 30)
    assert sid is not None
    after = cat.load("t")
    assert after.columns == ["id", "v", "extra"]
    assert _rows(after) == before


def test_partitioned_evolution(spark, tmp_path):
    cat = Catalog(str(tmp_path / "wh"), spark)
    cat.write("t", spark.range(4).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("p")),
        partition_by=["p"])
    cat.write("t", spark.range(4, 6).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("p"),
        (F.col("id") * 10).alias("w")),
        mode="append", partition_by=["p"])
    head = cat.load("t")
    assert set(head.columns) == {"id", "p", "w"}
    got = {(r["id"], r["p"], r["w"]) for r in head.collect()}
    assert got == {(0, "0", None), (1, "1", None), (2, "0", None),
                   (3, "1", None), (4, "0", 40), (5, "1", 50)}


def test_keyword_column_names_survive_the_projection(spark, tmp_path):
    """Catalog.frame projects with SQL strings, so a column named like a
    SQL keyword must stay a quoted identifier there."""
    cat = Catalog(str(tmp_path / "wh"), spark)
    cat.write("t", spark.range(2).select(
        F.col("id"), F.col("id").cast("int").alias("order"),
        F.lit("x").alias("from")))
    cat.write("t", spark.range(2, 4).select(
        F.col("id"), F.col("id").cast("int").alias("order")),
        mode="append")
    head = cat.load("t")
    assert head.dtypes == [("id", "bigint"), ("order", "int"),
                           ("from", "string")]
    assert _rows(head) == [(0, 0, "x"), (1, 1, "x"), (2, 2, None),
                           (3, 3, None)]
