"""Streaming NEAR-duplicate detection over the page stream — the
streaming face of operators/dedup.minhash_lsh_pairs, completing the
streaming x dedup cell: crawl batches land continuously and each doc is
flagged against everything seen within the state horizon, not just
exact re-fetches (streaming/dedup.py).

Design (same LSH semantics as the batch operator):

* each page's minhash signature (the batch Arrow UDF, identical
  permutations) is split into `bands` band hashes; the stream is
  exploded to one row per band and grouped by (band, band_hash);
* ONE stateful operator (`applyInPandasWithState` keyed by the band
  bucket) stores the bucket's first claimant — owner url + its
  signature — and emits, for every arriving row, whether the bucket was
  novel and the signature-estimated Jaccard against the owner.
  Within-batch order is pinned by (event ts, url), so replays are
  deterministic;
* the per-DOC reduce (dup iff ANY band collides with another owner at
  est >= threshold — exactly the batch candidate + estimate-threshold
  rule) happens in `foreachBatch` on the micro-batch output: each doc's
  band rows are all emitted in the batch where the doc arrived, so the
  reduce is batch-local and needs no second state store (chained
  stateful operators are the fragile path).

Doc identity is the URL: a same-url re-fetch re-claims its own buckets
and passes through un-flagged — exact re-fetch suppression is the
upstream exact-dedup stage's job (streaming/dedup.py); this stage
flags CROSS-doc similarity.

100 TB contract: state is one (owner, num_perm x 8B sig) entry per
DISTINCT band bucket seen within the horizon, evicted by event-time
timeout against the watermark (the same bounded-state trade as the
exact-dedup stream; forever-horizon near-dedup belongs to the batch
compaction pass). The band explode carries the signature to the bucket
groups — bands x num_perm x 8B per doc through the shuffle; with the
default 8x32 that is 2 KB/doc, the price of having the verify
signature available at the bucket without a second join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.spark_udfs import make_minhash
from ..operators.dedup import lsh_band_hashes
from ..sources.pages import PAGES_SCHEMA

CLAIM_SCHEMA = ("url string, warc_ts timestamp, band int, "
                "owner string, novel_band int, est double")
STATE_SCHEMA = "owner string, sig string"


def _claim_factory(num_perm: int, horizon_ms: int):
    def claim(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        rows = rows.sort_values(["warc_ts", "url"], kind="mergesort")
        if state.exists:
            owner, sig_s = state.get
            owner_sig = np.array([int(x) for x in sig_s.split(",")],
                                 dtype=np.int64) if sig_s else None
        else:
            owner, owner_sig = None, None
        out = []
        max_ts = None
        for r in rows.itertuples(index=False):
            sig = np.asarray(r.sig, dtype=np.int64)
            if owner is None:
                owner, owner_sig = r.url, sig
                novel, est = 1, 0.0
            elif r.url == owner:
                novel, est = 1, 0.0  # the owner's own band re-arriving
            else:
                novel = 0
                est = float((sig == owner_sig).sum()) / num_perm
            out.append((r.url, r.warc_ts, int(r.band), owner, novel,
                        round(est, 6)))
            max_ts = r.warc_ts if max_ts is None else max(max_ts,
                                                          r.warc_ts)
        state.update((owner, ",".join(str(int(x)) for x in owner_sig)))
        state.setTimeoutTimestamp(
            int(pd.Timestamp(max_ts).value // 10 ** 6) + horizon_ms)
        yield pd.DataFrame(out, columns=["url", "warc_ts", "band",
                                         "owner", "novel_band", "est"])
    return claim


def doc_decisions(claims_batch, threshold: float):
    """per-doc reduce over one micro-batch of claim rows -> (url,
    warc_ts, n_bands, n_collisions, max_est, is_dup). Batch-local:
    plain DataFrame ops, no state."""
    coll = F.when(F.col("novel_band") == 0, 1).otherwise(0)
    dup_est = F.when((F.col("novel_band") == 0)
                     & (F.col("est") >= F.lit(threshold)),
                     F.col("est")).otherwise(F.lit(None))
    return (claims_batch.groupBy("url", "warc_ts")
            .agg(F.count("*").cast("int").alias("n_bands"),
                 F.sum(coll).cast("int").alias("n_collisions"),
                 F.max("est").alias("max_est"),
                 F.max(dup_est).isNotNull().cast("int").alias("is_dup")))


def stream_near_dedup(spark, landing_dir: str, checkpoint_dir: str,
                      out_sink, num_perm: int = 32, bands: int = 8,
                      ngram: int = 3, threshold: float = 0.7,
                      ts_col: str = "warc_ts", watermark: str = "1 hour",
                      horizon_ms: int = 3_600_000,
                      available_now: bool = True):
    """landing pages -> minhash -> banded bucket claims (stateful) ->
    per-doc dup decision; out_sink(decisions_df, batch_id) gets one row
    per doc per micro-batch. Returns the started query."""
    mh = make_minhash(num_perm, ngram)
    pages = (spark.readStream.schema(PAGES_SCHEMA)
             .option("maxFilesPerTrigger", 64).parquet(landing_dir))
    sig = pages.select("url", ts_col, mh(F.col("text")).alias("sig"))
    banded = sig.select(
        "url", ts_col, "sig", lsh_band_hashes("sig", num_perm, bands)
    ).select("url", ts_col, "sig", "bb.band", "bb.bh")
    claims = (banded.withWatermark(ts_col, watermark)
              .groupBy("band", "bh")
              .applyInPandasWithState(
                  _claim_factory(num_perm, horizon_ms),
                  CLAIM_SCHEMA, STATE_SCHEMA, outputMode="update",
                  timeoutConf=GroupStateTimeout.EventTimeTimeout))

    def sink(batch_df, batch_id):
        out_sink(doc_decisions(batch_df, threshold), batch_id)

    writer = (claims.writeStream.outputMode("update")
              .foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
