"""Incremental crawl ingest: append a new page batch to a cataloged
table, exact-deduplicated against everything already ingested.

The 100 TB contract is that ingesting a daily batch must NOT rescan the
corpus. The catalog therefore maintains a companion hash table
(`{table}__hashes`, one 32-hex md5 per ingested row) appended in step
with the data table; the dedup anti-join reads that narrow table — a
few bytes per corpus row — never the pages themselves. AQE picks
broadcast vs shuffled anti-join by the batch/hash-table sizes.

Crash safety across the TWO commits (data, then hashes): each hash
snapshot records which data snapshot it covers. If a run dies between
the commits, the next ingest reconciles first — it hashes exactly the
parquet files the data manifests added since the covered snapshot
(manifest file-list diff, no corpus rescan) and appends them to the
hash table before deduplicating the new batch. Re-running the SAME
batch is a no-op via the lineage batch_source anchor.

Intra-batch duplicates keep the first row by (warc_ts, url) — one
window over the content hash, deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _hash_table(table: str) -> str:
    return f"{table}__hashes"


def _reconcile_hashes(catalog, table: str, dedup_col: str):
    """bring {table}__hashes up to the data table's HEAD by hashing only
    the data files added after the covered snapshot. Returns the hash
    DataFrame at HEAD coverage (None when the data table is absent)."""
    ht = _hash_table(table)
    try:
        head = catalog.read_manifest(table)
    except (FileNotFoundError, KeyError):
        return None
    try:
        hmani = catalog.read_manifest(ht)
        covered = hmani["lineage"].get("covers_snapshot", 0)
    except (FileNotFoundError, KeyError):
        hmani, covered = None, 0
    if covered < head["snapshot_id"]:
        delta = catalog.added_since(head, covered or None)
        if delta is not None:
            delta = delta.select(
                F.md5(F.col(dedup_col)).alias("content_hash"))
            if hmani:
                # Catalog.compact rewrites already-hashed rows into new
                # files; without this anti-join every compaction would
                # re-append the whole corpus's hashes (index doubles)
                delta = delta.join(catalog.load(ht).distinct(),
                                   "content_hash", "left_anti")
            catalog.write(
                ht, delta, mode="append" if hmani else "overwrite",
                lineage={"stage": "reconcile_hashes",
                         "covers_snapshot": head["snapshot_id"]})
        elif hmani:
            # nothing to hash, just advance coverage
            catalog.write(ht, catalog.load(ht).limit(0), mode="append",
                          lineage={"stage": "reconcile_hashes",
                                   "covers_snapshot": head["snapshot_id"]})
    try:
        return catalog.load(ht)
    except (FileNotFoundError, KeyError):
        return None  # data table exists but holds no files yet


def incremental_ingest(catalog, new_pages: DataFrame,
                       table: str = "pages_raw",
                       batch_source: str | None = None,
                       dedup_col: str = "text") -> dict:
    """append `new_pages` to `table`, dropping rows whose md5(dedup_col)
    already exists in the table (via the companion hash table) or
    repeats within the batch. Returns an ingest report dict; re-running
    the same batch_source is a committed no-op."""
    try:
        head = catalog.read_manifest(table)
    except (FileNotFoundError, KeyError):
        head = None
    if (head and batch_source
            and head["lineage"].get("batch_source") == batch_source):
        return {"table": table, "snapshot": head["snapshot_id"],
                "skipped": True, "reason": "batch_source already ingested"}

    existing_hashes = _reconcile_hashes(catalog, table, dedup_col)

    hashed = new_pages.withColumn("content_hash",
                                  F.md5(F.col(dedup_col)))
    w = Window.partitionBy("content_hash").orderBy("warc_ts", "url")
    fresh = (hashed.withColumn("__rk", F.row_number().over(w))
             .filter(F.col("__rk") == 1).drop("__rk"))
    if existing_hashes is not None:
        fresh = fresh.join(existing_hashes.distinct(),
                           "content_hash", "left_anti")
    kept = fresh.drop("content_hash")

    prev_rows = head["total_rows"] if head else 0
    sid = catalog.write(
        table, kept, mode="append" if head else "overwrite",
        lineage={"stage": "incremental_ingest",
                 "batch_source": batch_source or "unspecified"})
    mani = catalog.read_manifest(table, sid)
    n_appended = mani["total_rows"] - prev_rows
    # companion hash commit (second commit; a crash before it is healed
    # by _reconcile_hashes on the next run)
    hsid = None
    if n_appended:
        delta_h = catalog.added_since(
            mani, head["snapshot_id"] if head else None).select(
                F.md5(F.col(dedup_col)).alias("content_hash"))
        hsid = catalog.write(
            _hash_table(table), delta_h,
            mode="append" if existing_hashes is not None else "overwrite",
            lineage={"stage": "ingest_hashes", "covers_snapshot": sid})
    return {"table": table, "snapshot": sid, "hash_snapshot": hsid,
            "skipped": False, "rows_appended": n_appended,
            "total_rows": mani["total_rows"]}
