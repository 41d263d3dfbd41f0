"""Incremental crawl ingest: append a new page batch to a cataloged
table, deduplicated against everything already ingested.

The 100 TB contract is that ingesting a daily batch must NOT rescan the
corpus. The catalog therefore maintains a companion index table,
appended in step with the data table and keyed by each row's content
md5; a batch is checked against that narrow table — a few bytes per
corpus row — never against the pages themselves. companion_ingest is
the one protocol; each dedup flavour supplies its index rows and its
drop rule:

* incremental_ingest (here): exact dedup against `{table}__hashes`, one
  32-hex md5 per ingested row, by an anti-join (AQE picks broadcast vs
  shuffled by the batch/hash-table sizes);
* incremental_near_ingest (operators/incremental_near.py): MinHash
  near-dup against the banded signatures in `{table}__mh_sigs`.

Crash safety across the TWO commits (data, then index): each index
snapshot records which data snapshot it covers (`covers_snapshot`). If
a run dies between the commits, the next ingest reconciles first — it
indexes exactly the parquet files the data manifests added since the
covered snapshot (manifest file-list diff, no corpus rescan) and
appends them to the index before deduplicating the new batch.
Re-running the SAME batch is a no-op via the lineage batch_source
anchor.

Intra-batch duplicates keep the first row by (warc_ts, url) — one
window over the content md5, deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEDUP_COL = "text"  # the content column both flavours key on


def _hash_table(table: str) -> str:
    return f"{table}__hashes"


def _hashes(df: DataFrame) -> DataFrame:
    return df.select(F.md5(F.col(DEDUP_COL)).alias("content_hash"))


def companion_ingest(catalog, new_pages: DataFrame, table: str,
                     batch_source: str | None, *, lineage: dict,
                     companion: str, key: str, index_rows, keep,
                     index_lineage: dict, report_key: str) -> dict:
    """append `new_pages` to `table` under the companion-index protocol
    (module docstring). Returns the ingest report; re-running the same
    batch_source is a committed no-op.

    lineage: the data commit's lineage (batch_source is added).
    companion: the index table; key: its content-md5 column.
    index_rows(df): the index rows of data rows `df`.
    keep(batch, index): the rows of `batch` (first row per md5, `key`
    column included) that survive dedup against the index DataFrame
    (None before the first index commit) and within the batch.
    index_lineage: recorded by every index commit beside
    covers_snapshot. report_key: the report's name for the index
    snapshot."""
    head = catalog.head(table)
    if (head and batch_source
            and head["lineage"].get("batch_source") == batch_source):
        return {"table": table, "snapshot": head["snapshot_id"],
                "skipped": True, "reason": "batch_source already ingested"}

    def commit_index(df, mode, covers):
        return catalog.write(companion, df, mode=mode, lineage=dict(
            {"stage": "companion_index", "covers_snapshot": covers},
            **index_lineage))

    # reconcile: bring the index up to HEAD by indexing only the data
    # files added after the covered snapshot
    iman = catalog.head(companion) if head else None
    covered = iman["lineage"].get("covers_snapshot", 0) if iman else 0
    if head and covered < head["snapshot_id"]:
        delta = catalog.added_since(head, covered or None)
        if delta is not None:
            if iman:
                # a path-diff alone over-selects after Catalog.compact:
                # compaction rewrites already-indexed rows into NEW
                # files, and re-indexing them would append duplicate
                # index rows (the index doubles) and, for signatures,
                # burn corpus-scale minhash CPU. Drop known keys with a
                # cheap md5 anti-join BEFORE index_rows runs.
                known = catalog.frame(iman).select(key).distinct()
                delta = (delta.withColumn(key, F.md5(F.col(DEDUP_COL)))
                         .join(known, key, "left_anti").drop(key))
            commit_index(index_rows(delta),
                         "append" if iman else "overwrite",
                         head["snapshot_id"])
        elif iman:
            # nothing to index, just advance coverage
            commit_index(catalog.frame(iman).limit(0), "append",
                         head["snapshot_id"])
        iman = catalog.head(companion)
    index = catalog.frame(iman) if iman else None

    w = Window.partitionBy(key).orderBy("warc_ts", "url")
    batch = (new_pages.withColumn(key, F.md5(F.col(DEDUP_COL)))
             .withColumn("__rk", F.row_number().over(w))
             .filter(F.col("__rk") == 1).drop("__rk"))
    kept = keep(batch, index).drop(key)

    prev_rows = head["total_rows"] if head else 0
    sid = catalog.write(
        table, kept, mode="append" if head else "overwrite",
        lineage=dict(lineage, batch_source=batch_source or "unspecified"))
    mani = catalog.read_manifest(table, sid)
    n_appended = mani["total_rows"] - prev_rows
    # index commit (second commit; a crash before it is healed by the
    # reconcile above on the next run)
    isid = None
    if n_appended:
        isid = commit_index(
            index_rows(catalog.added_since(
                mani, head["snapshot_id"] if head else None)),
            "append" if index is not None else "overwrite", sid)
    return {"table": table, "snapshot": sid, report_key: isid,
            "skipped": False, "rows_appended": n_appended,
            "total_rows": mani["total_rows"]}


def incremental_ingest(catalog, new_pages: DataFrame,
                       table: str = "pages_raw",
                       batch_source: str | None = None) -> dict:
    """append `new_pages` to `table`, dropping rows whose md5(text)
    already exists in the table (via the companion hash table) or
    repeats within the batch. Returns an ingest report dict; re-running
    the same batch_source is a committed no-op."""
    def keep(batch, index):
        if index is None:
            return batch
        return batch.join(index.distinct(), "content_hash", "left_anti")

    return companion_ingest(
        catalog, new_pages, table, batch_source,
        lineage={"stage": "incremental_ingest"},
        companion=_hash_table(table), key="content_hash",
        index_rows=_hashes, keep=keep, index_lineage={},
        report_key="hash_snapshot")
