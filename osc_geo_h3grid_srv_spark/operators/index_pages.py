"""The flagship pipeline (BASELINE.json north metric): Common-Crawl-style
pages -> geo anchors -> H3 cells at res 0..9 -> snapshot-committed point
dataset.

Stages (each committed as a snapshot with lineage; resumable):
  1. extract + index: ONE fused mapInArrow pass (extract_index_clip, the
     engine's only page indexer) finds the geo anchors in the raw html
     and gives each anchor row res0..res9 cells (independent assignment
     per res - the reference's point-dataset convention,
     dataset_utilities.py:10-16) + int64 cell9/p1 join keys
  2. write: salted repartition on the res-1 parent cell (north_rule skew
     handling: dense city clusters all land in few parents; salt spreads
     each hot parent over `salt` writer tasks), partitioned layout by p1
     -> partition pruning for radius/region queries.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import h3core
from ..functions import text as textf
from ..sources.catalog import dataset_entry

POINTS_SCHEMA = ("url string, warc_ts timestamp, lang string, "
                 "latitude double, longitude double")


def extract_points(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> one row per geo anchor.
    With assign_cells, the two-stage reference for tests and benchmark."""
    def gen(batches):
        for pdf in batches:
            rows, lat, lng = textf.extract_geo_anchors(pdf["html"])
            out = pdf.iloc[rows][["url", "warc_ts", "lang"]].reset_index(
                drop=True)
            out["latitude"] = lat
            out["longitude"] = lng
            yield out

    return pages.mapInPandas(gen, schema=POINTS_SCHEMA)


def _hex_str(col):
    """JVM-side H3 string form of an int64 cell: hex() strips the single
    leading zero nibble (valid mode-1 indexes always have bit 63..60 = 0),
    lower() matches h3 v3 string case — bit-identical to
    h3core.cell_to_string, zero Python string objects."""
    return F.lower(F.hex(col))


def _with_res_strings(df: DataFrame, max_res: int,
                      parent_res: int) -> DataFrame:
    """render res0..res{max_res} string columns from the int64 cell
    columns emitted by the Python stage, preserving the legacy column
    order (POINTS_SCHEMA, res0..res{max_res}, cell{max_res},
    p{parent_res}[, extras])."""
    base = ["url", "warc_ts", "lang", "latitude", "longitude"]
    extras = [c for c in df.columns
              if c not in base and not c.startswith("icell")
              and c != f"cell{max_res}" and c != f"p{parent_res}"]
    cols = ([F.col(c) for c in base]
            + [_hex_str(F.col(f"icell{r}")).alias(f"res{r}")
               for r in range(max_res + 1)]
            + [F.col(f"icell{max_res}").alias(f"cell{max_res}"),
               F.col(f"p{parent_res}")]
            + [F.col(c) for c in extras])
    return df.select(*cols)


def assign_cells(points: DataFrame, max_res: int = 9,
                 parent_res: int = 1) -> DataFrame:
    """add res0..res{max_res} hex columns + int64 cell{max_res} and parent
    partition keys. ONE mapInPandas pass emits int64 cells only (shared
    spherical projection across resolutions, each res still assigned
    independently — the reference's point-dataset convention); the string
    renderings are JVM `lower(hex(...))` projections, so they cost nothing
    when pruned and no Python string objects ever cross Arrow. Reference
    path for tests and benchmark; the engine runs extract_index_clip."""
    int_fields = ", ".join(f"icell{r} long" for r in range(max_res + 1))
    schema = f"{POINTS_SCHEMA}, {int_fields}, p{parent_res} long"

    def gen(batches):
        import numpy as np
        for pdf in batches:
            la = pdf["latitude"].to_numpy(dtype="float64")
            lo = pdf["longitude"].to_numpy(dtype="float64")
            out = pdf.copy()
            cells = h3core.latlng_to_cells_multi(
                la, lo, list(range(max_res + 1)))
            for r in range(max_res + 1):
                out[f"icell{r}"] = cells[r].view(np.int64)
            out[f"p{parent_res}"] = h3core.cell_to_parent(
                cells[max_res], parent_res).view(np.int64)
            yield out

    raw = points.mapInPandas(gen, schema=schema)
    return _with_res_strings(raw, max_res, parent_res)


def salted_points(pages: DataFrame, max_res: int = 9, parent_res: int = 1,
                  salt: int = 8) -> DataFrame:
    """indexed anchor rows, salted on the parent cell for a write
    partitioned by p{parent_res}: hot city parents spread over `salt`
    writer tasks, cold parents coalesce (AQE)."""
    return extract_index_clip(pages, max_res, parent_res).repartition(
        F.col(f"p{parent_res}"),
        F.pmod(F.xxhash64("url"), F.lit(int(salt))))


def index_pages(catalog, pages: DataFrame, dataset="page_points",
                max_res: int = 9, parent_res: int = 1, salt: int = 8):
    """full pipeline, committed with the point dataset's registry entry
    in one snapshot; returns (snapshot_id, row_count)."""
    entry = dataset_entry(
        dataset, "H3-indexed geo anchors of the pages table",
        key_columns={"latitude": "REAL", "longitude": "REAL"},
        value_columns={"url": "VARCHAR", "lang": "VARCHAR"},
        dataset_type="point")
    pts = salted_points(pages, max_res, parent_res, salt)
    sid = catalog.write(
        dataset, pts, mode="overwrite", partition_by=[f"p{parent_res}"],
        lineage={"stage": "index_pages", "max_res": max_res,
                 "parent_res": parent_res, "salt": salt},
        dataset=entry)
    return sid, catalog.read_manifest(dataset, sid)["total_rows"]


def text_invariant_violations(pages: DataFrame) -> int:
    """count rows where re-extracting text from html differs from the
    stored text column (must be 0: BASELINE.json per-row invariant)."""
    def gen(batches):
        for pdf in batches:
            re_text = textf.extract_text(pdf["html"])
            bad = int((re_text != pdf["text"]).sum())
            yield pd.DataFrame({"bad": [bad]})

    return (pages.mapInPandas(gen, schema="bad long")
            .agg(F.sum("bad").alias("bad")).collect()[0]["bad"])


def extract_index_clip(pages: DataFrame, max_res: int = 9,
                       parent_res: int = 1, packed_bc=None,
                       bbox=None, clip_filter=True) -> DataFrame:
    """FUSED hot path: extract text anchors + assign res0..max_res cells
    (+ optional bbox/PIP against broadcast polygons) in ONE mapInArrow
    pass. This is the engine's only page indexer; with no polygons its
    rows equal assign_cells(extract_points(pages)).

    Chaining mapInPandas/ArrowEval operators stacks one Python worker per
    operator per task (3 chained stages = 3x workers contending for the
    same cores); fusing keeps exactly one Python worker per task and one
    Arrow round trip. Measured >20x faster than the composed 3-stage
    pipeline on local[32].

    clip_filter=True drops out-of-region rows before cell assignment
    (region-restricted ingest); clip_filter=False indexes EVERY anchor
    and emits an `in_region` flag instead (full-index + query pattern).
    """
    import numpy as np
    int_fields = ", ".join(f"icell{r} long" for r in range(max_res + 1))
    schema = f"{POINTS_SCHEMA}, {int_fields}, p{parent_res} long"
    flagged = packed_bc is not None and not clip_filter
    if flagged:
        schema += ", in_region boolean"
    res_list = list(range(max_res + 1))

    def gen(batches):
        import pyarrow as pa
        from ..functions import geo as geomod
        pp = geomod.PackedPolygons(*packed_bc.value) if packed_bc else None
        for batch in batches:
            sch = batch.schema
            html = batch.column(sch.get_field_index("html"))
            rows, la, lo = textf.extract_geo_anchors_arrow(html)
            flag = None
            if pp is not None:
                m = np.zeros(len(rows), dtype=bool)
                inb = ((la >= bbox[0]) & (la <= bbox[1])
                       & (lo >= bbox[2]) & (lo <= bbox[3])) if bbox is not \
                    None else np.ones(len(rows), dtype=bool)
                if inb.any():
                    m[inb] = geomod.points_in_polys(la[inb], lo[inb], pp)
                if clip_filter:
                    rows, la, lo = rows[m], la[m], lo[m]
                else:
                    flag = m
            take = pa.array(rows, type=pa.int64())
            cols = [batch.column(sch.get_field_index(c)).take(take)
                    for c in ("url", "warc_ts", "lang")]
            names = ["url", "warc_ts", "lang", "latitude", "longitude"]
            cols += [pa.array(la), pa.array(lo)]
            cells = h3core.latlng_to_cells_multi(la, lo, res_list)
            for r in res_list:
                cols.append(pa.array(cells[r].view(np.int64)))
                names.append(f"icell{r}")
            cols.append(pa.array(h3core.cell_to_parent(
                cells[max_res], parent_res).view(np.int64)))
            names.append(f"p{parent_res}")
            if flag is not None:
                cols.append(pa.array(flag))
                names.append("in_region")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    # Arrow end to end: ONE regex scan per batch over the raw html buffer
    # (extract_geo_anchors_arrow), url/warc_ts/lang passthrough via Arrow
    # take (never materialized as Python objects), numeric outputs
    # zero-copy from NumPy. The .select prunes the scan to the consumed
    # columns (mapInArrow is opaque to Catalyst, so an unpruned input
    # would read+ship the `text` column for nothing).
    raw = pages.select("url", "warc_ts", "lang", "html").mapInArrow(
        gen, schema=schema)
    return _with_res_strings(raw, max_res, parent_res)
