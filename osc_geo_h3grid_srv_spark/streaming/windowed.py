"""Watermarked event-time windowed aggregation over the page stream.

Completes the streaming trio (ingest exactly-once, custom keyed state,
and — here — late-data handling): per-parent-cell anchor counts in
tumbling event-time windows keyed on `warc_ts` (the crawl timestamp),
with a watermark bounding how late a page may arrive. Append output
mode: a window's row is emitted exactly once, when the watermark passes
the window end — pages later than the watermark are dropped by Spark's
state eviction, which is what bounds state size at 10^12-row scale
(without a watermark the window state grows forever).

The batch indexer is reused unchanged (the extract_index_clip mapInArrow
pass runs under Structured Streaming and supplies the parent cell);
only the groupBy gains window(warc_ts).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.index_pages import extract_index_clip
from ..sources.pages import PAGES_SCHEMA


def stream_windowed_cell_counts(spark, landing_dir: str,
                                checkpoint_dir: str, out_sink,
                                window: str = "10 minutes",
                                watermark: str = "15 minutes",
                                parent_res: int = 1,
                                available_now: bool = True):
    """landing pages -> geo anchors -> per-(event-time window, parent
    cell) counts; finalized windows are appended to out_sink(batch_df,
    batch_id). Returns the started query."""
    pages = (spark.readStream.schema(PAGES_SCHEMA)
             .option("maxFilesPerTrigger", 64).parquet(landing_dir))
    pts = extract_index_clip(pages, parent_res=parent_res).select(
        "warc_ts", F.col(f"p{parent_res}").alias("parent"))
    agg = (pts.withWatermark("warc_ts", watermark)
           .groupBy(F.window("warc_ts", window).alias("w"), "parent")
           .agg(F.count("*").alias("n_anchors"))
           .select(F.col("w.start").alias("window_start"),
                   F.col("w.end").alias("window_end"),
                   "parent", "n_anchors"))
    writer = (agg.writeStream.outputMode("append")
              .foreachBatch(out_sink)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
