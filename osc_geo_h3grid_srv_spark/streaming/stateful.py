"""Custom stateful streaming operator: running per-parent-cell counters
over the page stream (applyInPandasWithState).

The reference has no streaming (SURVEY.md SS2.7); this extends the
ingest seam with the canonical Spark pattern for custom state: keyed
GroupState holding (n_points, n_pages-approx) per H3 parent cell,
updated per micro-batch, emitted in Update mode. State lives in the
checkpoint -> a restarted query resumes its counters exactly once, the
streaming analogue of the snapshot-resume contract the batch pipeline
gives (plans/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = "p1 long, total_points long, batches long"
STATE_SCHEMA = "total_points long, batches long"


def _update_cell_totals(key, pdfs, state: GroupState):
    import pandas as pd
    n = 0
    for pdf in pdfs:
        n += len(pdf)
    if state.exists:
        total, batches = state.get
    else:
        total, batches = 0, 0
    total += n
    batches += 1
    state.update((total, batches))
    yield pd.DataFrame({"p1": [key[0]], "total_points": [total],
                        "batches": [batches]})


def stream_cell_totals(spark, landing_dir: str, checkpoint_dir: str,
                       out_sink, max_res: int = 7, parent_res: int = 1,
                       available_now: bool = True):
    """landing pages -> fused extract+index (same pass as batch) ->
    per-parent running totals with keyed state; out_sink(batch_df, bid)
    receives each micro-batch's updated rows."""
    from ..operators.index_pages import extract_index_clip
    from ..sources.pages import PAGES_SCHEMA

    from pyspark.sql import functions as F

    pages = (spark.readStream.schema(PAGES_SCHEMA)
             .option("maxFilesPerTrigger", 64).parquet(landing_dir))
    pts = extract_index_clip(pages, max_res=max_res, parent_res=parent_res)
    pts = pts.select(F.col(f"p{parent_res}").alias("p1"))
    totals = pts.groupBy("p1").applyInPandasWithState(
        _update_cell_totals, OUT_SCHEMA, STATE_SCHEMA,
        outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout)
    writer = (totals.writeStream.outputMode("update")
              .foreachBatch(out_sink)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
