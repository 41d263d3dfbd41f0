"""spark-submit entry point for the flagship index pipeline
(BASELINE.json north_rule: "run via spark-submit --py-files on a
multi-executor cluster").

Packaging + launch (any master: yarn / k8s / standalone / local[N]):

    cd /root/repo && zip -qr /tmp/engine.zip osc_geo_h3grid_srv_spark
    spark-submit --master local[8] \
        --py-files /tmp/engine.zip \
        --conf spark.driver.extraJavaOptions=-Djava.security.egd=file:/dev/./urandom \
        --conf spark.sql.adaptive.enabled=true \
        jobs/index_pages_job.py \
        --warehouse /tmp/geomesh_wh --n-pages 100000 --max-res 9

On a real cluster pass --executor-cores/--num-executors as usual; the job
itself is master-agnostic (no local[] hardcoded here). Stages commit
snapshot checkpoints with per-partition lineage; rerunning the same
command after a kill resumes after the last committed stage
(plans/pipeline.py).

Reads an existing pages table via --pages-path, or synthesizes the
deterministic Common-Crawl-style table (--n-pages) for self-contained
runs.
"""

from __future__ import annotations

import argparse
import json
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--pages-path", default=None,
                    help="parquet of (url, warc_ts, html, text, lang)")
    ap.add_argument("--n-pages", type=int, default=100000,
                    help="synthesize this many pages if no --pages-path")
    ap.add_argument("--dataset", default="page_points")
    ap.add_argument("--max-res", type=int, default=9)
    ap.add_argument("--parent-res", type=int, default=1)
    ap.add_argument("--salt", type=int, default=8)
    ap.add_argument("--rollup-res", type=int, default=5,
                    help="per-cell aggregate resolution for the rollup "
                         "stage")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.appName("osc-geo-h3grid-index-pages")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())

    from osc_geo_h3grid_srv_spark.plans.pipeline import Pipeline, Stage
    from osc_geo_h3grid_srv_spark.sources.catalog import Catalog

    catalog = Catalog(args.warehouse, spark)
    t_start = time.time()

    if args.pages_path:
        pages = spark.read.parquet(args.pages_path)
    else:
        from osc_geo_h3grid_srv_spark.sources.pages import pages_dataframe
        pages = pages_dataframe(
            spark, args.n_pages,
            partitions=max(spark.sparkContext.defaultParallelism * 2, 8))

    # stage 1: fused extract+index + salted write (commits its own
    # snapshot with lineage; idempotent via the pipeline's input-snapshot
    # check is not applicable because pages come from outside the
    # catalog, so we commit the pages themselves first to give the stage
    # a resumable input anchor)
    src = args.pages_path or f"synthetic:{args.n_pages}"
    raw = catalog.head("pages_raw")
    prev = raw["lineage"].get("source") if raw else None
    if prev != src:  # idempotent ingest: same source -> keep snapshot
        catalog.write("pages_raw", pages, mode="overwrite",
                      lineage={"stage": "ingest_pages", "source": src})

    def build_points(cat, sp, **ins):
        from osc_geo_h3grid_srv_spark.operators.index_pages import (
            salted_points)
        return salted_points(ins["pages_raw"], max_res=args.max_res,
                             parent_res=args.parent_res, salt=args.salt)

    def build_rollup(cat, sp, **ins):
        from osc_geo_h3grid_srv_spark.functions.spark_udfs import (
            cell_to_parent_expr)
        return (ins[args.dataset]
                .groupBy(cell_to_parent_expr(f"cell{args.max_res}",
                                             args.rollup_res)
                         .alias("cell"))
                .agg(F.count("*").alias("n_points"),
                     F.countDistinct("url").alias("n_urls")))

    pipe = Pipeline(catalog, [
        Stage("index_pages", ["pages_raw"], args.dataset, build_points,
              partition_by=[f"p{args.parent_res}"]),
        Stage("cell_rollup", [args.dataset], f"{args.dataset}_rollup_r"
              f"{args.rollup_res}", build_rollup),
    ])
    log = pipe.run()

    report = {"stages": [{"stage": s, "action": a, "snapshot": sid}
                         for s, a, sid in log],
              "wall_s": round(time.time() - t_start, 3)}
    for tbl in (args.dataset, f"{args.dataset}_rollup_r{args.rollup_res}"):
        man = catalog.read_manifest(tbl)
        report[tbl] = {
            "snapshot": man["snapshot_id"],
            "total_rows": man["total_rows"],
            "files": len(man["files"]),
            "partitions": sorted({json.dumps(f["partition"])
                                  for f in man["files"]})[:8],
            "metrics": man["metrics"],
        }
    print("JOB_REPORT " + json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
