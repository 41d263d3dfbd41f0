"""Incremental crawl ingest (operators/incremental.py): batch-over-
batch exact dedup against the companion hash table, idempotent
re-ingest, and crash reconciliation between the data and hash commits;
the companion-index protocol cases run for the near-dup ingest too.
"""

import glob
import hashlib
import os

import pandas as pd
import pytest

from osc_geo_h3grid_srv_spark.operators.incremental import (
    _hash_table, incremental_ingest)
from osc_geo_h3grid_srv_spark.operators.incremental_near import (
    _sig_table, incremental_near_ingest)
from osc_geo_h3grid_srv_spark.sources.catalog import Catalog


def _pages(spark, rows):
    html = b"<html></html>"
    pdf = pd.DataFrame({
        "url": [r[0] for r in rows],
        "warc_ts": [pd.Timestamp(r[1]) for r in rows],
        "html": [html] * len(rows),
        "text": [r[2] for r in rows],
        "lang": ["en"] * len(rows)})
    from osc_geo_h3grid_srv_spark.sources.pages import PAGES_SCHEMA
    return spark.createDataFrame(pdf, PAGES_SCHEMA)


def test_incremental_ingest_dedups_across_batches(spark, tmp_path):
    cat = Catalog(str(tmp_path / "wh"), spark)
    b1 = _pages(spark, [
        ("u1", "2024-01-01 10:00", "alpha"),
        ("u2", "2024-01-01 10:01", "beta"),
        ("u3", "2024-01-01 10:02", "alpha"),   # intra-batch dup
    ])
    r1 = incremental_ingest(cat, b1, batch_source="crawl-001")
    assert not r1["skipped"] and r1["rows_appended"] == 2
    # re-running the same batch is a committed no-op
    r1b = incremental_ingest(cat, b1, batch_source="crawl-001")
    assert r1b["skipped"] and r1b["snapshot"] == r1["snapshot"]

    b2 = _pages(spark, [
        ("u4", "2024-01-02 09:00", "beta"),    # dup vs batch 1
        ("u5", "2024-01-02 09:01", "gamma"),   # new
        ("u6", "2024-01-02 09:02", "gamma"),   # intra-batch dup
    ])
    r2 = incremental_ingest(cat, b2, batch_source="crawl-002")
    assert r2["rows_appended"] == 1 and r2["total_rows"] == 3
    texts = sorted(r["text"] for r in cat.load("pages_raw").collect())
    assert texts == ["alpha", "beta", "gamma"]
    # intra-batch dedup kept the first row by (warc_ts, url)
    urls = {r["text"]: r["url"] for r in cat.load("pages_raw").collect()}
    assert urls["alpha"] == "u1" and urls["gamma"] == "u5"
    # the hash table tracks the corpus exactly
    assert cat.load("pages_raw__hashes").count() == 3


def test_crash_between_commits_is_reconciled(spark, tmp_path):
    cat = Catalog(str(tmp_path / "wh"), spark)
    incremental_ingest(cat, _pages(spark, [
        ("u1", "2024-01-01 10:00", "alpha")]), batch_source="c1")
    # simulate a crash AFTER the data commit but BEFORE the hash commit:
    # append straight to the data table, bypassing the hash update
    cat.write("pages_raw",
              _pages(spark, [("u2", "2024-01-01 11:00", "delta")]),
              mode="append",
              lineage={"stage": "incremental_ingest",
                       "batch_source": "c2-crashed"})
    assert cat.load("pages_raw__hashes").count() == 1  # stale
    # next ingest must first heal the hash table, then dedup against
    # BOTH alpha and delta
    r = incremental_ingest(cat, _pages(spark, [
        ("u3", "2024-01-02 09:00", "delta"),   # dup only via healing
        ("u4", "2024-01-02 09:01", "omega")]), batch_source="c3")
    assert r["rows_appended"] == 1
    texts = sorted(r["text"] for r in cat.load("pages_raw").collect())
    assert texts == ["alpha", "delta", "omega"]
    assert cat.load("pages_raw__hashes").count() == 3


def test_compaction_does_not_duplicate_hashes(spark, tmp_path):
    """compaction rewrites indexed rows into new files; reconcile must
    not re-append the whole corpus's hashes."""
    from osc_geo_h3grid_srv_spark.operators.incremental import (
        _hash_table)
    cat = Catalog(str(tmp_path / "wh"), spark)
    for b in range(3):
        incremental_ingest(cat, _pages(spark, [
            (f"https://c{b}/1", f"2024-01-0{b + 1} 00:00", f"text {b}"),
        ]), table="pc", batch_source=f"b{b}")
    ht = _hash_table("pc")
    assert cat.load(ht).count() == 3
    cat.compact("pc", target_bytes=1 << 30, min_files=2)
    r = incremental_ingest(cat, _pages(spark, [
        ("https://d/1", "2024-01-05 00:00", "text new"),
        ("https://d/2", "2024-01-05 00:01", "text 0"),  # dup
    ]), table="pc", batch_source="b9")
    assert r["rows_appended"] == 1
    assert cat.load(ht).count() == 4
    assert cat.load(ht).distinct().count() == 4


@pytest.mark.parametrize("ingest,companion,key", [
    (incremental_ingest, _hash_table, "content_hash"),
    (incremental_near_ingest, _sig_table, "doc_key")])
def test_torn_first_ingest_heals(spark, tmp_path, ingest, companion, key):
    """the first ingest's data commit lands and its index commit never
    does: the next ingest indexes every data file in an overwrite
    commit, then dedups its batch against it."""
    cat = Catalog(str(tmp_path / "wh"), spark)
    texts = [" ".join(f"w{i}x{j}" for j in range(30)) for i in range(3)]
    cat.write("pages_raw", _pages(spark, [
        ("u1", "2024-01-01 10:00", texts[0]),
        ("u2", "2024-01-01 10:01", texts[1])]),
        lineage={"stage": "torn", "batch_source": "c1"})
    ct = companion("pages_raw")
    assert cat.current_snapshot(ct) is None
    r = ingest(cat, _pages(spark, [
        ("u3", "2024-01-02 09:00", texts[1]),   # dup only via healing
        ("u4", "2024-01-02 09:01", texts[2])]), batch_source="c2")
    assert r["rows_appended"] == 1
    healed = cat.read_manifest(ct, 1)
    assert healed["mode"] == "overwrite"
    assert healed["lineage"]["covers_snapshot"] == 1
    md5 = [hashlib.md5(t.encode()).hexdigest() for t in texts]
    assert {x[key] for x in cat.load(ct, 1).collect()} == set(md5[:2])
    assert sorted(x["text"] for x in cat.load("pages_raw").collect()) \
        == sorted(texts)
    assert {x[key] for x in cat.load(ct).collect()} == set(md5)


def test_missing_head_manifest_raises_before_staging(spark, tmp_path):
    cat = Catalog(str(tmp_path / "wh"), spark)
    incremental_ingest(cat, _pages(spark, [
        ("u1", "2024-01-01 10:00", "alpha")]), batch_source="c1")
    tdir = str(tmp_path / "wh" / "pages_raw")
    os.remove(os.path.join(tdir, "snapshots", "v000001.json"))
    staged = sorted(glob.glob(os.path.join(tdir, "data-*")))
    with pytest.raises(FileNotFoundError):
        incremental_ingest(cat, _pages(spark, [
            ("u2", "2024-01-02 09:00", "beta")]), batch_source="c2")
    assert sorted(glob.glob(os.path.join(tdir, "data-*"))) == staged
