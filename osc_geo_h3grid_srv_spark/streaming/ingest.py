"""Structured Streaming ingest seam.

The reference is strictly request/response over static files (SURVEY.md
SS2.7: no streaming operators exist), and the north_rule asks for batch
jobs resumable from snapshot checkpoints - so streaming is OUT of parity
scope. This module keeps the seam so incremental ingest can be switched
on without touching the index pipeline:

* pages arrive as parquet files in a landing directory
* readStream -> the SAME fused extract+index pass as batch
  (extract_index_clip; its mapInArrow runs unchanged under Structured
  Streaming)
* foreachBatch commits each micro-batch as an APPEND snapshot to the
  catalog -> downstream batch queries time-travel as usual. Each
  snapshot's lineage records the query's checkpoint and batch_id, and a
  micro-batch whose checkpoint and batch_id HEAD's lineage already
  records is not committed again: Spark replays the last batch when a
  run dies after the catalog commit but before its own commit log
  entry. Only a replay
  of the table's latest commit is detected; a batch of this query
  committed under an older snapshot (another writer appended since)
  would commit twice.
"""

from __future__ import annotations

import os

from ..operators.index_pages import extract_index_clip
from ..sources.pages import PAGES_SCHEMA


def stream_index_pages(spark, catalog, landing_dir: str, checkpoint_dir: str,
                       dataset: str = "page_points_stream", max_res: int = 9,
                       parent_res: int = 1, trigger_once: bool = True):
    """start a stream indexing pages as they land; returns the query.

    trigger_once=True processes the backlog and stops (the testable mode
    here); False runs continuously with default micro-batches.
    """
    pages = (spark.readStream.schema(PAGES_SCHEMA)
             .option("maxFilesPerTrigger", 64)
             .parquet(landing_dir))
    pts = extract_index_clip(pages, max_res=max_res, parent_res=parent_res)

    ckpt = os.path.abspath(checkpoint_dir)

    def commit(batch_df, batch_id):
        lineage = {"stage": "stream_index_pages", "checkpoint": ckpt,
                   "batch_id": batch_id}
        head = catalog.head(dataset)
        if head and head["lineage"] == lineage:
            return  # a replay of the batch HEAD already holds
        catalog.write(
            dataset, batch_df, mode="append",
            partition_by=[f"p{parent_res}"], lineage=lineage)

    writer = (pts.writeStream.foreachBatch(commit)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
