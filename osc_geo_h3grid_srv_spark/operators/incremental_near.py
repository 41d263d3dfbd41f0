"""Incremental NEAR-dup crawl ingest (round 4): append a new page
batch to a cataloged table, dropping rows that near-duplicate
(MinHash-estimated Jaccard >= threshold) anything already ingested —
without ever re-signaturing the corpus.

The companion index is banded signatures ({table}__mh_sigs: doc_key,
sig, band, bh — one narrow row per band, 8 per distinct document). Each
ingest signatures ONLY the incoming batch, probes the index with a band
equi-join, verifies candidates on the stored signatures, and appends
the kept docs' signatures in step. That is the 100 TB contract:
per-batch work scales with the batch (and its candidate fan-out), never
with corpus size; the corpus-side state is a few narrow rows per
document, partitionable by (band, bh).

The commits, the crash heal and the batch_source no-op are the shared
companion-index protocol (operators/incremental.companion_ingest); this
module supplies the signature rows and the near-dup drop rule.

Exact duplicates are a special case (estimate = 1.0 and an identical
doc_key), so this subsumes the exact hash-table path when the caller
wants a single companion; pipelines wanting BOTH exactness guarantees
and looser near-dedup run incremental_ingest first, then this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .incremental import DEDUP_COL, companion_ingest

NUM_PERM = 32
NGRAM = 3
BANDS = 8


def _sig_table(table: str) -> str:
    return f"{table}__mh_sigs"


def _banded_sigs(df: DataFrame) -> DataFrame:
    """(doc_key, sig, band, bh) — doc_key is the content md5 (content-
    addressed: re-ingest of identical text maps to the same key), one
    row per band so the index probe is a narrow equi-join."""
    from .dedup import lsh_band_hashes, make_minhash
    mh = make_minhash(NUM_PERM, NGRAM)
    sig = df.select(F.md5(F.col(DEDUP_COL)).alias("doc_key"),
                    mh(F.col(DEDUP_COL)).alias("sig")) \
        .dropDuplicates(["doc_key"])
    return sig.select("doc_key", "sig",
                      lsh_band_hashes("sig", NUM_PERM, BANDS)) \
        .select("doc_key", "sig", "bb.band", "bb.bh")


def _drop_near(batch: DataFrame, index, threshold: float) -> DataFrame:
    """the rows of `batch` (one per doc_key) that near-duplicate neither
    the index nor an earlier (warc_ts, url) row of the batch."""
    from .dedup import minhash_estimate
    bsigs = _banded_sigs(batch) \
        .localCheckpoint(eager=False)  # Arrow signature UDF runs once

    est = minhash_estimate("sig", "sig_x", NUM_PERM)
    drops = None
    if index is not None:
        probe = bsigs.join(
            index.select("band", "bh", F.col("sig").alias("sig_x"),
                         F.col("doc_key").alias("key_x")),
            ["band", "bh"])
        near = (probe.filter(F.col("doc_key") != F.col("key_x"))
                .withColumn("__est", est)
                .filter(F.col("__est") >= F.lit(threshold))
                .select("doc_key"))
        exact = (probe.filter(F.col("doc_key") == F.col("key_x"))
                 .select("doc_key"))
        drops = near.unionByName(exact).distinct()
    # intra-batch near pairs: the later (warc_ts, url) side drops, so
    # one survivor per near-dup group ingests deterministically
    intra = (bsigs.alias("a").join(bsigs.alias("b"), ["band", "bh"])
             .filter(F.col("a.doc_key") != F.col("b.doc_key"))
             .select(F.col("a.doc_key").alias("doc_key"),
                     F.col("a.sig").alias("sig"),
                     F.col("b.sig").alias("sig_x"),
                     F.col("b.doc_key").alias("key_x"))
             .withColumn("__est", est)
             .filter(F.col("__est") >= F.lit(threshold)))
    order_key = batch.select(
        "doc_key", F.concat_ws(" ", F.col("warc_ts").cast("string"),
                               "url").alias("__ord"))
    intra_drop = (intra.join(order_key, "doc_key")
                  .join(order_key.select(
                      F.col("doc_key").alias("key_x"),
                      F.col("__ord").alias("__ord_x")), "key_x")
                  .filter(F.col("__ord") > F.col("__ord_x"))
                  .select("doc_key").distinct())
    drops = intra_drop if drops is None else \
        drops.unionByName(intra_drop).distinct()
    return batch.join(drops, "doc_key", "left_anti")


def incremental_near_ingest(catalog, new_pages: DataFrame,
                            table: str = "pages_raw",
                            batch_source: str | None = None,
                            threshold: float = 0.8) -> dict:
    """append `new_pages` to `table` minus near-duplicates of the
    corpus and of earlier rows of the same batch. Returns an ingest
    report dict; re-running the same batch_source is a no-op."""
    return companion_ingest(
        catalog, new_pages, table, batch_source,
        lineage={"stage": "incremental_near_ingest",
                 "threshold": threshold, "num_perm": NUM_PERM},
        companion=_sig_table(table), key="doc_key",
        index_rows=_banded_sigs,
        keep=lambda batch, index: _drop_near(batch, index, threshold),
        index_lineage={"num_perm": NUM_PERM, "ngram": NGRAM},
        report_key="sig_snapshot")
