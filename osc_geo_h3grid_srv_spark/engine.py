"""GeoMeshEngine: the engine facade - same operations as the reference's
REST/CLI surface (SURVEY.md SS2.9), returning DataFrames. Each query
route is one DatasetQueries call for h3 and point datasets alike; the
dataset-type rules live in operators/queries.py.

Usage:
    eng = GeoMeshEngine(spark, warehouse_dir)
    eng.load_dataset_from_df("flood", df, dataset_type="h3_index", ...)
    eng.radius("flood", 52.518, 13.405, 20.0, resolution=7).show()
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .operators import correlate as correlate_op
from .operators.queries import DatasetQueries
from .sources.catalog import Catalog, dataset_entry


def make_spark(app="osc-geo-h3grid-spark", cores=None, shuffle_partitions=32,
               extra_conf=None):
    """engine-tuned local session: AQE on (skew joins, partition
    coalescing), Arrow on (pandas UDF transport), no call-site capture.

    PySpark wraps every DataFrame and Column method so that each call
    walks the Python stack and pushes its file:line to the JVM; a
    serving request builds a few dozen Columns, and that capture was
    most of its planning time (one `F.col(x).cast(t).alias(x)`: 35 py4j
    round trips with it, 5 without). With it off, analysis and ANSI
    errors lose their Python "DataFrame context" lines; the error class
    and message are unchanged."""
    master = f"local[{cores}]" if cores else "local[*]"
    b = (SparkSession.builder.appName(app).master(master)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         # shuffle temp-block names come from UUID.randomUUID ->
         # SecureRandom; the default NativePRNG holds a GLOBAL lock around
         # an entropy read that is slow on VM kernels, and the bypass-merge
         # shuffle writer calls it once per reduce partition per map task
         # -- at local[32] every task thread convoys on that one lock
         # (observed: 3x slowdown vs local[8]). The egd override switches
         # to pure-Java SHA1PRNG (no syscall in the critical section);
         # bypassMergeThreshold=0 keeps the sort writer (1 temp file per
         # map task instead of numPartitions).
         .config("spark.driver.extraJavaOptions",
                 "-Djava.security.egd=file:/dev/./urandom")
         .config("spark.shuffle.sort.bypassMergeThreshold", "0")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         .config("spark.python.sql.dataFrameDebugging.enabled", "false")
         .config("spark.driver.memory", "8g")
         .config("spark.sql.session.timeZone", "UTC"))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


class GeoMeshEngine:
    def __init__(self, spark, warehouse_dir):
        self.spark = spark
        self.catalog = Catalog(warehouse_dir, spark)

    # -- dataset management --------------------------------------------------

    def load_dataset_from_df(self, name, df, dataset_type, key_columns,
                             value_columns, description="", partition_by=None,
                             mode="overwrite"):
        """write and register `name` in one snapshot; an invalid entry
        raises before any write. Returns the snapshot id."""
        entry = dataset_entry(name, description, key_columns, value_columns,
                              dataset_type)
        return self.catalog.write(name, df, mode=mode,
                                  partition_by=partition_by,
                                  lineage={"stage": "load_dataset"},
                                  dataset=entry)

    def show_meta(self):
        return self.catalog.show_meta()

    def queries(self, dataset) -> DatasetQueries:
        return DatasetQueries(self.catalog, dataset)

    # -- SS2.9 query surface --------------------------------------------------

    def radius(self, dataset, lat, lng, radius_km, resolution=3, **tkw):
        return self.queries(dataset).latlong_radius(lat, lng, radius_km,
                                                    resolution, **tkw)

    def cell_radius(self, dataset, cell, radius_km, **tkw):
        return self.queries(dataset).cell_radius(cell, radius_km, **tkw)

    def cell_point(self, dataset, cell, **tkw):
        return self.queries(dataset).cell_point(cell, **tkw)

    def latlong_point(self, dataset, lat, lng, resolution=7, **tkw):
        return self.queries(dataset).latlong_point(lat, lng, resolution,
                                                   **tkw)

    def shapefile_get(self, dataset, polygons, region=None, resolution=7,
                      **tkw):
        return self.queries(dataset).shapefile(polygons, region, resolution,
                                               **tkw)

    def bounding_box(self, dataset, lat_min, lat_max, lng_min, lng_max,
                     **tkw):
        return self.queries(dataset).bounding_box(lat_min, lat_max, lng_min,
                                                  lng_max, **tkw)

    def filter_cells(self, polygons, region=None, resolution=7,
                     tolerance=None):
        # tolerance accepted+ignored for CLI parity (reference defect D9)
        from .functions import geo
        from .operators.queries import enumerate_region_cells
        pp = polygons if isinstance(polygons, geo.PackedPolygons) else \
            geo.PackedPolygons.from_geojson(polygons)
        return enumerate_region_cells(self.spark, pp, region, resolution,
                                      tolerance)

    def correlate(self, assets_df, dataset_specs, resolution=7, **kw):
        return correlate_op.correlate(self.catalog, assets_df, dataset_specs,
                                      resolution, **kw)

    def load_from_config(self, path_or_text):
        """run a sister-repo-shaped loader YAML (CSVLoader schema,
        examples/getting-started/giss_2022_12.yml) against this
        engine's catalog; returns {resolution: table_name}."""
        from .sources.loader import load_from_yaml
        return load_from_yaml(self, path_or_text)

    def shapefile_repository(self, path):
        """named shapefile-bundle store (reference CLI `repository`
        register/unregister/inventory verbs; SURVEY.md K5)."""
        from .sources.repository import ShapefileRepository
        return ShapefileRepository(path)

