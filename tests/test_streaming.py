"""Structured Streaming ingest seam (streaming/ingest.py): landing-dir
pages stream -> same extract/assign stages -> foreachBatch APPEND
snapshots; the stream checkpoint makes re-runs exactly-once (a file
already processed is never re-committed)."""

import os

import pytest


@pytest.fixture()
def catalog(spark, tmp_path):
    from osc_geo_h3grid_srv_spark.sources.catalog import Catalog
    return Catalog(str(tmp_path / "wh"), spark)


def _land(spark, landing, lo, hi, name):
    from osc_geo_h3grid_srv_spark.sources.pages import pages_dataframe
    df = pages_dataframe(spark, hi - lo, partitions=2, start=lo)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(landing, name))
    # flatten into the landing root (readStream wants files, not dirs)
    import glob
    import shutil
    for i, f in enumerate(
            glob.glob(os.path.join(landing, name, "*.parquet"))):
        shutil.move(f, os.path.join(landing, f"{name}-{i}.parquet"))
    shutil.rmtree(os.path.join(landing, name))


def test_stream_ingest_exactly_once(spark, tmp_path, catalog):
    from osc_geo_h3grid_srv_spark.operators.index_pages import (
        assign_cells, extract_points)
    from osc_geo_h3grid_srv_spark.sources.pages import pages_dataframe
    from osc_geo_h3grid_srv_spark.streaming.ingest import stream_index_pages

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    _land(spark, landing, 0, 400, "batch1")
    q = stream_index_pages(spark, catalog, landing, ckpt,
                           dataset="pts_stream", max_res=7)
    q.awaitTermination(300)

    expected1 = assign_cells(
        extract_points(pages_dataframe(spark, 400, partitions=2)),
        max_res=7).count()
    man1 = catalog.read_manifest("pts_stream")
    assert man1["total_rows"] == expected1
    assert man1["lineage"]["stage"] == "stream_index_pages"

    # second wave of files; same checkpoint -> only the new files commit
    _land(spark, landing, 400, 1000, "batch2")
    q = stream_index_pages(spark, catalog, landing, ckpt,
                           dataset="pts_stream", max_res=7)
    q.awaitTermination(300)

    expected_all = assign_cells(
        extract_points(pages_dataframe(spark, 1000, partitions=2)),
        max_res=7).count()
    man2 = catalog.read_manifest("pts_stream")
    assert man2["total_rows"] == expected_all
    # append lineage chain: snapshot advanced, parent preserved
    assert man2["snapshot_id"] > man1["snapshot_id"]

    # re-run with NO new files: checkpoint prevents any further commit
    q = stream_index_pages(spark, catalog, landing, ckpt,
                           dataset="pts_stream", max_res=7)
    q.awaitTermination(300)
    assert catalog.read_manifest("pts_stream")["snapshot_id"] \
        == man2["snapshot_id"]


def test_stream_replay_after_catalog_commit_is_skipped(spark, tmp_path,
                                                      catalog):
    """a run that dies after the catalog commit but before Spark's
    commit log entry replays that micro-batch on restart; the replay
    must not append its rows a second time."""
    from osc_geo_h3grid_srv_spark.streaming.ingest import stream_index_pages

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    _land(spark, landing, 0, 300, "batch1")
    q = stream_index_pages(spark, catalog, landing, ckpt,
                           dataset="pts_stream", max_res=7)
    q.awaitTermination(300)
    man1 = catalog.read_manifest("pts_stream")
    assert man1["lineage"]["batch_id"] == 0 and man1["total_rows"] > 0

    # the crash: batch 0 is in the catalog, not in the commit log
    os.remove(os.path.join(ckpt, "commits", "0"))
    os.remove(os.path.join(ckpt, "commits", ".0.crc"))
    q = stream_index_pages(spark, catalog, landing, ckpt,
                           dataset="pts_stream", max_res=7)
    q.awaitTermination(300)
    man2 = catalog.read_manifest("pts_stream")
    assert man2["snapshot_id"] == man1["snapshot_id"]
    assert man2["total_rows"] == man1["total_rows"]
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))


def test_stateful_cell_totals_checkpoint_recovery(spark, tmp_path):
    """applyInPandasWithState running per-parent counters: totals equal
    batch ground truth, and a RESTARTED query resumes its state from the
    checkpoint (counters continue, not reset)."""
    import os
    from osc_geo_h3grid_srv_spark.operators.index_pages import (
        assign_cells, extract_points)
    from osc_geo_h3grid_srv_spark.sources.pages import pages_dataframe
    from osc_geo_h3grid_srv_spark.streaming.stateful import (
        stream_cell_totals)

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    latest = {}

    def sink(bdf, bid):
        for r in bdf.collect():
            latest[r["p1"]] = (r["total_points"], r["batches"])

    _land(spark, landing, 0, 500, "w1")
    q = stream_cell_totals(spark, landing, ckpt, sink, max_res=7)
    q.awaitTermination(300)

    def truth(n):
        pts = assign_cells(
            extract_points(pages_dataframe(spark, n, partitions=2)),
            max_res=7)
        return {r["p1"]: r["c"] for r in
                pts.groupBy("p1").count().withColumnRenamed(
                    "count", "c").collect()}

    want1 = truth(500)
    assert {k: v[0] for k, v in latest.items()} == want1

    # second wave through a RESTARTED query on the same checkpoint:
    # counters must CONTINUE from state, covering all 1000 pages
    _land(spark, landing, 500, 1000, "w2")
    q = stream_cell_totals(spark, landing, ckpt, sink, max_res=7)
    q.awaitTermination(300)
    want_all = truth(1000)
    assert {k: v[0] for k, v in latest.items()} == want_all
    # every key that appeared in both waves saw its batch counter advance
    assert all(v[1] >= 1 for v in latest.values())
