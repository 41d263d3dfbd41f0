"""Snapshot-manifest table layer + dataset metadata registry.

Replaces the reference's per-dataset DuckDB files + `dataset_metadata`
catalog (src/geoserver/metadata.py, src/geoserver/geomesh.py:1368-1369)
with an Iceberg-style warehouse over Parquet:

* immutable snapshots, atomic commit via manifest JSON + HEAD pointer
  rename (os.replace is atomic on POSIX)
* time travel: load(table, snapshot_id)
* file planning from the manifest: load(table, partitions={col: values})
  builds the DataFrame over only the files whose recorded hive partition
  value (parsed by the manifest schema's type) is in the set, so Spark
  never lists the rest; callers keep their own filter on the column
* per-partition lineage + row counts + wall clock in every manifest
  (BASELINE.json north_rule: "resumable from snapshot checkpoints with
  per-partition lineage and metrics")
* resume: a pipeline stage that already committed for the same input
  lineage is skipped (see plans/pipeline.py)

No Iceberg jars exist in this environment (SURVEY.md SS0.2); the layout
keeps Iceberg's semantics (snapshot isolation, manifests listing data
files) so a real catalog can be swapped in where jars exist.

Metadata registry parity (reference semantics); a dataset's registry
entry is the `dataset` field of its manifest, committed with its data:
* dataset types: h3 / point / h3_index (metadata.py:21-25)
* column-name charset [A-Za-z0-9_] (metadata.py:83-92,275-283)
* scalar-only column types with alias canonicalization
  (duckdbutils.py:13-73,127-171); composite types rejected
* duplicate registration / missing dataset raise (metadata.py:95-107)
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from urllib.parse import unquote

VALID_DATASET_TYPES = ["h3", "point", "h3_index"]

# DuckDB general-purpose types + alias canonicalization
# (reference duckdbutils.py:13-73)
_GENERAL_TYPES = {
    "BIGINT", "BIT", "BLOB", "BOOLEAN", "DATE", "DECIMAL", "DOUBLE",
    "HUGEINT", "INTEGER", "INTERVAL", "REAL", "SMALLINT", "TIME",
    "TIMESTAMP", "TIMESTAMP WITH TIME ZONE", "TINYINT", "UBIGINT",
    "UINTEGER", "USMALLINT", "UTINYINT", "UUID", "VARCHAR",
}
_TYPE_ALIASES = {
    "INT8": "BIGINT", "LONG": "BIGINT", "BITSTRING": "BIT",
    "BYTEA": "BLOB", "BINARY": "BLOB", "VARBINARY": "BLOB",
    "BOOL": "BOOLEAN", "LOGICAL": "BOOLEAN", "NUMERIC": "DECIMAL",
    "FLOAT8": "DOUBLE", "INT4": "INTEGER", "INT": "INTEGER",
    "SIGNED": "INTEGER", "FLOAT4": "REAL", "FLOAT": "REAL",
    "INT2": "SMALLINT", "SHORT": "SMALLINT",
    "TIMESTAMPTZ": "TIMESTAMP WITH TIME ZONE", "DATETIME": "TIMESTAMP",
    "INT1": "TINYINT", "CHAR": "VARCHAR", "BPCHAR": "VARCHAR",
    "TEXT": "VARCHAR", "STRING": "VARCHAR",
}
_COMPOSITE = ("ARRAY", "LIST", "MAP", "STRUCT", "UNION")
_NAME_RE = re.compile(r"^[A-Za-z0-9_]+$")
# a catalog read names every file from the manifest, so Spark's listing
# is one local status call per path (~1 ms). Above the default threshold
# of 32 paths Spark runs it as a parallel job instead — one task per
# path, seconds for a few hundred files — so the catalog's session never
# takes that route.
_LISTING_THRESHOLD = (
    "spark.sql.sources.parallelPartitionDiscovery.threshold", "1000000")

def canonical_type(t: str) -> str:
    """canonicalize a declared column type; raises on composite/unknown
    (duckdbutils.py:127-171 semantics)."""
    up = t.strip().upper()
    base = up.split("(")[0].strip()
    for comp in _COMPOSITE:
        if comp in up or up.endswith("[]"):
            raise ValueError(f"composite type not allowed: {t}")
    if base in _TYPE_ALIASES:
        return _TYPE_ALIASES[base]
    if base in _GENERAL_TYPES or up in _GENERAL_TYPES:
        return _TYPE_ALIASES.get(base, base)
    raise ValueError(f"not a valid general column type: {t}")


def validate_column_name(name: str):
    if not _NAME_RE.match(name):
        raise ValueError(
            f"invalid column name {name!r}: only [A-Za-z0-9_] allowed")


_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


def _partition_value(raw, spark_type):
    """a manifest's hive partition string as a value of the column's
    type (integral columns as int, others as the unescaped string Spark
    wrote with %XX escapes); None for a null partition."""
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if spark_type in _INTEGRAL:
        return int(raw)
    return unquote(raw)


def _ddl(schema) -> str:
    """a manifest schema ([{name, type}]) as a Spark DDL string."""
    return ", ".join(f"{quote_ident(c['name'])} {c['type']}"
                     for c in schema)


def quote_ident(name) -> str:
    """a column name as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def interval_of(key_columns) -> str:
    """time interval inferred from key columns (geomesh.py:225-233):
    day+month+year -> daily; month+year -> monthly; year -> yearly;
    none -> one_time."""
    if "day" in key_columns:
        return "daily"
    if "month" in key_columns:
        return "monthly"
    if "year" in key_columns:
        return "yearly"
    return "one_time"


def dataset_entry(dataset_name, description, key_columns, value_columns,
                  dataset_type):
    """a validated registry entry for Catalog.write (metadata.py:45-184):
    dataset_type, name charset, canonical scalar column types."""
    if dataset_type not in VALID_DATASET_TYPES:
        raise ValueError(
            f"dataset_type {dataset_type!r} not in {VALID_DATASET_TYPES}")
    validate_column_name(dataset_name)
    key_columns = {k: canonical_type(v) for k, v in key_columns.items()}
    value_columns = {k: canonical_type(v) for k, v in
                     value_columns.items()}
    for c in list(key_columns) + list(value_columns):
        validate_column_name(c)
    return {
        "dataset_name": dataset_name,
        "description": description,
        "key_columns": key_columns,
        "value_columns": value_columns,
        "dataset_type": dataset_type,
    }


class Catalog:
    """warehouse of snapshot tables, each manifest with its registry entry."""

    def __init__(self, warehouse_dir: str, spark=None):
        self.root = warehouse_dir
        self.spark = spark
        if spark is not None:
            spark.conf.set(*_LISTING_THRESHOLD)
        os.makedirs(self.root, exist_ok=True)

    # -- snapshot table layer ------------------------------------------------

    def _tdir(self, table):
        return os.path.join(self.root, table)

    def _head_path(self, table):
        return os.path.join(self._tdir(table), "HEAD")

    def current_snapshot(self, table):
        try:
            with open(self._head_path(table)) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return None

    def _manifest_path(self, table, sid):
        return os.path.join(self._tdir(table), "snapshots", f"v{sid:06d}.json")

    def read_manifest(self, table, snapshot=None):
        sid = self.current_snapshot(table) if snapshot is None else snapshot
        if sid is None:
            raise KeyError(f"table {table!r} has no committed snapshot")
        with open(self._manifest_path(table, sid)) as fh:
            return json.load(fh)

    def head(self, table):
        """the HEAD manifest, or None when `table` has no HEAD; a HEAD
        naming a missing manifest raises FileNotFoundError."""
        sid = self.current_snapshot(table)
        return None if sid is None else self.read_manifest(table, sid)

    def write(self, table, df, mode="overwrite", partition_by=None,
              lineage=None, metrics=None, dataset=None):
        """write a DataFrame as a new snapshot; returns snapshot id.

        mode=append: new snapshot = parent's files + new files (no rewrite).
        dataset: a dataset_entry() recorded in this snapshot; None keeps
        the parent's entry.
        Commit protocol: data to a staging dir -> manifest json ->
        atomic HEAD rename. A crash before HEAD update leaves the previous
        snapshot intact (resume-safe).
        """
        t0 = time.time()
        staging = os.path.join(self._tdir(table),
                               f"data-{uuid.uuid4().hex[:12]}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        files = self._scan_files(staging)
        parent = self.current_snapshot(table)
        schema = [{"name": f.name, "type": f.dataType.simpleString()}
                  for f in df.schema.fields]
        if parent is not None:
            pman = self.read_manifest(table, parent)
            dataset = dataset or pman["dataset"]
            if mode == "append":
                files = pman["files"] + files
                schema = self._evolve_schema(table, pman["schema"], schema)
        return self._commit(
            table, parent, mode, partition_by or [], schema, files,
            lineage or {}, dict(metrics or {}, commit_wall_clock_s=round(
                time.time() - t0, 3)), dataset)

    def _commit(self, table, parent, mode, partition_by, schema, files,
                lineage, metrics, dataset):
        """commit snapshot parent+1: manifest v{sid}.json written via tmp
        + os.replace, then the HEAD pointer flipped the same way (a crash
        between the two leaves the parent current). Returns the sid."""
        sid = 1 if parent is None else parent + 1
        manifest = {
            "table": table,
            "snapshot_id": sid,
            "parent_snapshot_id": parent,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "mode": mode,
            "partition_by": partition_by,
            "schema": schema,
            "files": files,
            "total_rows": sum(f["rows"] for f in files),
            "lineage": lineage,
            "metrics": metrics,
            "dataset": dataset,
        }
        mpath = self._manifest_path(table, sid)
        os.makedirs(os.path.dirname(mpath), exist_ok=True)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1)
        os.replace(tmp, mpath)
        htmp = self._head_path(table) + ".tmp"
        with open(htmp, "w") as fh:
            fh.write(str(sid))
        os.replace(htmp, self._head_path(table))
        return sid

    @staticmethod
    def _evolve_schema(table, parent_schema, new_schema):
        """Iceberg-style additive schema evolution on append (round 4):
        new nullable columns are allowed (old files read them as NULL
        under the snapshot schema), columns absent from the incoming
        batch stay in the table schema (new files read them as NULL), but
        a TYPE conflict on a shared column is rejected — silent type
        widening corrupts every downstream reader at 100 TB scale. The
        snapshot schema is the parent order with genuinely-new columns
        appended, so time travel shows each snapshot exactly the columns
        it had."""
        ptypes = {c["name"]: c["type"] for c in parent_schema}
        for c in new_schema:
            old = ptypes.get(c["name"])
            if old is not None and old != c["type"]:
                raise ValueError(
                    f"schema conflict on {table!r}.{c['name']}: "
                    f"snapshot has {old}, append brings {c['type']} — "
                    "type evolution is not supported; cast before "
                    "appending")
        merged = list(parent_schema)
        seen = set(ptypes)
        for c in new_schema:
            if c["name"] not in seen:
                merged.append(c)
        return merged

    def _scan_files(self, staging):
        import pyarrow.parquet as pq
        out = []
        for dirpath, _, names in os.walk(staging):
            for n in sorted(names):
                if not n.endswith(".parquet"):
                    continue
                p = os.path.join(dirpath, n)
                rel = os.path.relpath(p, self.root)
                md = pq.ParquetFile(p).metadata
                # hive partition values from the path
                pvals = dict(seg.split("=", 1) for seg in
                             os.path.relpath(dirpath, staging).split(os.sep)
                             if "=" in seg)
                out.append({"path": rel, "rows": md.num_rows,
                            "bytes": os.path.getsize(p), "partition": pvals})
        return out

    def load(self, table, snapshot=None, partitions=None):
        """DataFrame over exactly the manifest's files (time travel).
        partitions={column: values} keeps only the files whose partition
        value is in the set (see plan_files)."""
        return self.frame(self.read_manifest(table, snapshot), partitions)

    @staticmethod
    def plan_files(man, partitions=None):
        """the manifest files a read with `partitions` covers: each file
        whose hive partition value, parsed by the column's type in the
        manifest schema, is in the column's set, for every column given.
        A null partition value (__HIVE_DEFAULT_PARTITION__) is never
        selected, as an IN filter never matches null. Pure metadata."""
        if partitions is None:
            return man["files"]
        types = {c["name"]: c["type"] for c in man["schema"]}
        return [f for f in man["files"]
                if all(_partition_value(f["partition"][c], types.get(c))
                       in vals
                       for c, vals in partitions.items())]

    def frame(self, man, partitions=None):
        """load() over a manifest already read. With schema evolution
        (round 4) the files of one snapshot may disagree on columns; the
        read takes the manifest's recorded schema (absent columns read
        NULL, no footer is inferred) and the result exposes exactly that
        column SET and ORDER — an old snapshot never shows a column added
        later. No planned file gives an empty DataFrame of that
        schema.

        The projection is one selectExpr of SQL strings, one py4j call
        per column: built from Columns it takes several per column, and
        a serving request pays them on every call."""
        files = self.plan_files(man, partitions)
        schema = man["schema"]
        if not files:
            df = self.spark.createDataFrame([], _ddl(schema))
        else:
            df = self._df_for_files(man["table"], files,
                                    man["partition_by"], schema)
        have = set(df.columns)
        # cast to the recorded type: hive partition-value inference may
        # narrow (e.g. a string partition column read back as int) and
        # the manifest is the source of truth
        exprs = []
        for c in schema:
            name = quote_ident(c["name"])
            src = name if c["name"] in have else "NULL"
            exprs.append(f"CAST({src} AS {c['type']}) AS {name}")
        exprs += [quote_ident(p) for p in man["partition_by"]
                  if p not in {c["name"] for c in schema}]
        return df.selectExpr(*exprs)

    def added_since(self, man, snapshot):
        """frame() over the files of manifest `man` that snapshot
        `snapshot` of its table lacks (all for None); None if none."""
        old = set() if snapshot is None else {
            f["path"] for f in self.read_manifest(man["table"],
                                                  snapshot)["files"]}
        added = [f for f in man["files"] if f["path"] not in old]
        return self.frame(dict(man, files=added)) if added else None

    def _df_for_files(self, table, files, partition_by, schema):
        """DataFrame over `files`, read with the manifest `schema` as
        DDL, so Spark reads no footer to plan it."""
        paths = [os.path.join(self.root, f["path"]) for f in files]
        if not paths:
            raise KeyError(f"snapshot of {table!r} is empty")

        def read(base, base_paths):
            return (self.spark.read.option("basePath", base)
                    .schema(_ddl(schema)).parquet(*base_paths))

        if not partition_by:
            return read(self.root, paths)
        # partitioned: read per data-dir base so hive partition columns
        # materialize (a single basePath=root read would either inject
        # no partition columns or, across several data dirs, trip
        # CONFLICTING_DIRECTORY_STRUCTURES)
        bases = {os.path.join(self.root, f["path"].split(os.sep)[0],
                              f["path"].split(os.sep)[1])
                 for f in files}
        df = None
        for b in sorted(bases):
            part = read(b, [p for p in paths if p.startswith(b + os.sep)])
            df = part if df is None else df.unionByName(
                part, allowMissingColumns=True)
        return df

    def plan_compaction(self, table, target_bytes, min_files=2,
                        snapshot=None):
        """(rewrite_files, keep_files): which manifest files a compaction
        pass would rewrite. Pure metadata-plane planning: files are
        grouped by hive partition tuple; inside a group, files already
        >= target_bytes are kept, and the under-sized ones are rewrite
        candidates when there are at least `min_files` of them (one
        lonely small file gains nothing from a rewrite)."""
        man = self.read_manifest(table, snapshot)
        groups = {}
        for f in man["files"]:
            key = tuple(sorted(f["partition"].items()))
            groups.setdefault(key, []).append(f)
        rewrite, keep = [], []
        for fs in groups.values():
            small = [f for f in fs if f["bytes"] < target_bytes]
            keep += [f for f in fs if f["bytes"] >= target_bytes]
            if len(small) >= min_files:
                rewrite += small
            else:
                keep += small
        return rewrite, keep

    def compact(self, table, target_bytes=128 * 1024 * 1024,
                min_files=2):
        """Small-file compaction — the maintenance pass any snapshot
        warehouse needs once streaming/incremental appends accumulate
        (each append snapshot adds its own small files; scan cost and
        scheduler overhead grow with file COUNT, not bytes). Rewrites
        each partition's under-sized files into ~target_bytes outputs
        and commits a new snapshot that reuses every untouched file
        verbatim — readers of older snapshots are unaffected (time
        travel intact), rows are never changed, and a crash before the
        HEAD rename leaves the previous snapshot current (same commit
        protocol as write()).

        Returns the new snapshot id, or None if nothing qualified."""
        t0 = time.time()
        man = self.read_manifest(table)
        rewrite, keep = self.plan_compaction(table, target_bytes,
                                             min_files)
        if not rewrite:
            return None
        df = self._df_for_files(table, rewrite, man["partition_by"],
                                man["schema"])
        n_out = max(1, -(-sum(f["bytes"] for f in rewrite)
                         // target_bytes))
        tdir = self._tdir(table)
        staging = os.path.join(tdir, f"data-{uuid.uuid4().hex[:12]}")
        writer = df.repartition(int(n_out)).write.mode("overwrite")
        if man["partition_by"]:
            writer = writer.partitionBy(*man["partition_by"])
        writer.parquet(staging)
        new_files = self._scan_files(staging)
        # re-check HEAD at commit time: the rewrite above is long, and a
        # writer that committed a snapshot in between would have its
        # files silently dropped if we built the new file list from the
        # manifest read at entry (lost update). Compaction is a pure
        # maintenance rewrite, so the safe move is to abort and let the
        # caller retry against the new HEAD.
        parent = self.current_snapshot(table)
        if parent != man["snapshot_id"]:
            raise RuntimeError(
                f"concurrent commit detected on {table!r}: compaction "
                f"planned against snapshot {man['snapshot_id']} but HEAD "
                f"is now {parent}; retry compact() against the new HEAD")
        # explicit raise (not assert) so the row-count invariant
        # survives `python -O` — a compaction that changes row count is
        # data loss and must never commit
        files = keep + new_files
        rows = sum(f["rows"] for f in files)
        if rows != man["total_rows"]:
            raise RuntimeError(
                f"compaction row-count mismatch on {table!r}: "
                f"{man['total_rows']} before, {rows} after — refusing "
                "to commit")
        return self._commit(
            table, parent, "compact", man["partition_by"],
            man["schema"], files,
            {"stage": "compact", "inputs": {table: parent},
             "rewritten_files": len(rewrite), "new_files": len(new_files)},
            {"commit_wall_clock_s": round(time.time() - t0, 3)},
            man["dataset"])

    def tables(self):
        return sorted(
            t for t in os.listdir(self.root)
            if os.path.isdir(self._tdir(t)) and os.path.exists(
                self._head_path(t)))

    def partition_metrics(self, table, snapshot=None):
        """per-partition lineage/metrics rollup from the manifest
        (north_rule: per-partition lineage and row-count metrics):
        {partition_values_json: {rows, bytes, files}} plus __total__."""
        man = self.read_manifest(table, snapshot)
        out = {}
        for f in man["files"]:
            key = json.dumps(f["partition"], sort_keys=True)
            agg = out.setdefault(key, {"rows": 0, "bytes": 0, "files": 0})
            agg["rows"] += f["rows"]
            agg["bytes"] += f["bytes"]
            agg["files"] += 1
        out["__total__"] = {
            "rows": man["total_rows"],
            "bytes": sum(f["bytes"] for f in man["files"]),
            "files": len(man["files"]),
            "snapshot": man["snapshot_id"],
            "lineage": man.get("lineage", {}),
            "metrics": man.get("metrics", {}),
        }
        return out

    # -- dataset metadata registry (reference metadata.py semantics) --------

    def add_meta(self, dataset_name, description, key_columns, value_columns,
                 dataset_type):
        """register a dataset ahead of its load (metadata.py:45-184): a
        snapshot of the parent's files (none for a new table) + the entry;
        rejects a table that has one. Returns the snapshot id."""
        entry = dataset_entry(dataset_name, description, key_columns,
                              value_columns, dataset_type)
        parent = self.current_snapshot(dataset_name)
        man = {"partition_by": [], "schema": [], "files": [],
               "dataset": None}
        if parent is not None:
            man = self.read_manifest(dataset_name, parent)
        if man["dataset"] is not None:
            raise ValueError(f"dataset {dataset_name!r} already registered")
        return self._commit(
            dataset_name, parent, "register", man["partition_by"],
            man["schema"], man["files"], {"stage": "add_meta"}, {}, entry)

    def registered_manifest(self, dataset_name):
        """the HEAD manifest of a registered dataset, its entry under
        "dataset"; raises if unregistered (geomesh.py:188-191)."""
        man = self.head(dataset_name) if _NAME_RE.match(dataset_name) \
            else None
        if man is None or man["dataset"] is None:
            raise KeyError(
                f"dataset {dataset_name!r} not registered in metadata")
        return man

    def get_ds_metadata(self, dataset_name):
        """metadata row; raises if unregistered (geomesh.py:188-191)."""
        return self.registered_manifest(dataset_name)["dataset"]

    def show_meta(self):
        """all metadata rows as a DataFrame (showmeta endpoint,
        geomesh_router.py:242-248), one per registered table."""
        rows = [e for e in (self.read_manifest(t)["dataset"]
                            for t in self.tables()) if e is not None]
        from pyspark.sql import Row
        if not rows:
            return self.spark.createDataFrame(
                [], "dataset_name string, description string, "
                    "key_columns map<string,string>, "
                    "value_columns map<string,string>, dataset_type string")
        return self.spark.createDataFrame([Row(**r) for r in rows])

    def ds_interval(self, dataset_name):
        """the registered dataset's time interval (see interval_of)."""
        return interval_of(self.get_ds_metadata(dataset_name)["key_columns"])
