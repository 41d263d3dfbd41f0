"""Incremental NEAR-dup crawl ingest (round 4): append a new page
batch to a cataloged table, dropping rows that near-duplicate
(MinHash-estimated Jaccard >= threshold) anything already ingested —
without ever re-signaturing the corpus.

The catalog maintains a companion banded-signature index
({table}__mh_sigs: doc_key, sig, band, bh — one narrow row per band,
8 per distinct document). Each ingest signatures ONLY the incoming
batch, probes the index with a band equi-join, verifies candidates on
the stored signatures, and appends the kept docs' signatures in step.
That is the 100 TB contract: per-batch work scales with the batch (and
its candidate fan-out), never with corpus size; the corpus-side state
is a few narrow rows per document, partitionable by (band, bh).

Crash safety mirrors operators/incremental.py: the sig commit records
which data snapshot it covers, and the next run heals a torn ingest by
signaturing exactly the manifest-diff files (file-list diff, no corpus
rescan). Re-running the same batch_source is a committed no-op.

Exact duplicates are a special case (estimate = 1.0 and an identical
doc_key), so this subsumes the exact hash-table path when the caller
wants a single companion; pipelines wanting BOTH exactness guarantees
and looser near-dedup run incremental_ingest first, then this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sig_table(table: str) -> str:
    return f"{table}__mh_sigs"


def _banded_sigs(df: DataFrame, dedup_col: str, num_perm: int,
                 ngram: int, bands: int = 8) -> DataFrame:
    """(doc_key, sig, band, bh) — doc_key is the content md5 (content-
    addressed: re-ingest of identical text maps to the same key), one
    row per band so the index probe is a narrow equi-join."""
    from .dedup import make_minhash
    rows_per_band = num_perm // bands
    mh = make_minhash(num_perm, ngram)
    sig = df.select(F.md5(F.col(dedup_col)).alias("doc_key"),
                    mh(F.col(dedup_col)).alias("sig")) \
        .dropDuplicates(["doc_key"])
    return sig.select(
        "doc_key", "sig",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.concat_ws(
                    ",", *[F.col("sig")[b * rows_per_band + r]
                           .cast("string")
                           for r in range(rows_per_band)])).alias("bh"))
            for b in range(bands)])).alias("bb")) \
        .select("doc_key", "sig", "bb.band", "bb.bh")


def _reconcile_sigs(catalog, table: str, dedup_col: str,
                    num_perm: int, ngram: int):
    """bring {table}__mh_sigs up to the data table's HEAD by
    signaturing ONLY the data files added after the covered snapshot.
    Returns the sig DataFrame at HEAD coverage or None."""
    st = _sig_table(table)
    try:
        head = catalog.read_manifest(table)
    except (FileNotFoundError, KeyError):
        return None
    try:
        smani = catalog.read_manifest(st)
        covered = smani["lineage"].get("covers_snapshot", 0)
    except (FileNotFoundError, KeyError):
        smani, covered = None, 0
    if covered < head["snapshot_id"]:
        delta = catalog.added_since(head, covered or None)
        if delta is not None:
            if smani:
                # a path-diff alone over-selects after Catalog.compact:
                # compaction rewrites already-indexed rows into NEW
                # files, and re-signaturing them would both burn
                # corpus-scale minhash CPU and append duplicate index
                # rows (doubling probe fan-out). Drop known doc_keys
                # with a cheap md5 anti-join BEFORE the signature UDF
                # runs; only genuinely new content is ever minhashed.
                known = catalog.load(st).select("doc_key").distinct()
                delta = (delta
                         .withColumn("doc_key", F.md5(F.col(dedup_col)))
                         .join(known, "doc_key", "left_anti")
                         .drop("doc_key"))
            catalog.write(
                st, _banded_sigs(delta, dedup_col, num_perm, ngram),
                mode="append" if smani else "overwrite",
                lineage={"stage": "reconcile_sigs",
                         "covers_snapshot": head["snapshot_id"],
                         "num_perm": num_perm, "ngram": ngram})
        elif smani:
            catalog.write(st, catalog.load(st).limit(0), mode="append",
                          lineage={"stage": "reconcile_sigs",
                                   "covers_snapshot": head["snapshot_id"],
                                   "num_perm": num_perm,
                                   "ngram": ngram})
    try:
        return catalog.load(st)
    except (FileNotFoundError, KeyError):
        return None


def incremental_near_ingest(catalog, new_pages: DataFrame,
                            table: str = "pages_raw",
                            batch_source: str | None = None,
                            dedup_col: str = "text",
                            num_perm: int = 32, ngram: int = 3,
                            threshold: float = 0.8) -> dict:
    """append `new_pages` to `table` minus near-duplicates of the
    corpus and of earlier rows of the same batch. Returns an ingest
    report dict; re-running the same batch_source is a no-op."""
    try:
        head = catalog.read_manifest(table)
    except (FileNotFoundError, KeyError):
        head = None
    if (head and batch_source
            and head["lineage"].get("batch_source") == batch_source):
        return {"table": table, "snapshot": head["snapshot_id"],
                "skipped": True,
                "reason": "batch_source already ingested"}

    index = _reconcile_sigs(catalog, table, dedup_col, num_perm, ngram)

    w = Window.partitionBy("doc_key").orderBy("warc_ts", "url")
    batch = (new_pages
             .withColumn("doc_key", F.md5(F.col(dedup_col)))
             .withColumn("__rk", F.row_number().over(w))
             .filter(F.col("__rk") == 1).drop("__rk"))
    bsigs = _banded_sigs(batch, dedup_col, num_perm, ngram) \
        .localCheckpoint(eager=False)  # Arrow signature UDF runs once

    est = (F.expr("size(filter(zip_with(sig, sig_x, "
                  "(x, y) -> x = y), b -> b))")
           / F.lit(float(num_perm)))
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
    kept = batch.join(drops, "doc_key", "left_anti").drop("doc_key")

    prev_rows = head["total_rows"] if head else 0
    sid = catalog.write(
        table, kept, mode="append" if head else "overwrite",
        lineage={"stage": "incremental_near_ingest",
                 "batch_source": batch_source or "unspecified",
                 "threshold": threshold, "num_perm": num_perm})
    mani = catalog.read_manifest(table, sid)
    n_appended = mani["total_rows"] - prev_rows
    ssid = None
    if n_appended:
        delta = catalog.added_since(
            mani, head["snapshot_id"] if head else None)
        ssid = catalog.write(
            _sig_table(table),
            _banded_sigs(delta, dedup_col, num_perm, ngram),
            mode="append" if index is not None else "overwrite",
            lineage={"stage": "ingest_sigs", "covers_snapshot": sid,
                     "num_perm": num_perm, "ngram": ngram})
    return {"table": table, "snapshot": sid, "sig_snapshot": ssid,
            "skipped": False, "rows_appended": n_appended,
            "total_rows": mani["total_rows"]}
