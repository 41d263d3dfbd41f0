"""End-to-end pages -> H3 index pipeline (the north-metric path):
extract_text invariant, anchor extraction, res0-9 assignment, salted
partitioned snapshot write, catalog queries over the result, determinism
across partitioning layouts, snapshot time travel, and equality of the
fused indexer with the two-stage reference on malformed pages.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osc_geo_h3grid_srv_spark.functions import h3core
from osc_geo_h3grid_srv_spark.functions import text as textf
from osc_geo_h3grid_srv_spark.operators.index_pages import (
    assign_cells, extract_index_clip, extract_points, index_pages,
    text_invariant_violations)
from osc_geo_h3grid_srv_spark.sources.pages import (
    PAGES_SCHEMA, pages_dataframe, synthesize_pages_pdf)

N_PAGES = 5000


def _geo(lat, lng):
    return f'<span class="geo">{lat},{lng}</span>'


# anchors the generator never writes: an overlong (27-digit) latitude,
# Arabic-Indic digits, |lat| > 90 / |lng| > 180, null and empty html
MALFORMED_HTML = [None if h is None else h.encode() for h in [
    f"<p>{_geo('123456789012345678901234567.123456', '13.400000')}</p>",
    f"<p>{_geo('٥٢.520000', '13.400000')}</p>",
    f"<p>{_geo('95.000000', '500.000000')}"
    f"{_geo('-90.000001', '1.000000')}</p>",
    None,
    "",
    f"<p>{_geo('52.520000', '13.400000')}{_geo('-33.870001', '151.200000')}"
    f"{_geo('-91.250000', '-181.000000')}</p>",
]]


@pytest.fixture(scope="module")
def pages(spark):
    df = pages_dataframe(spark, N_PAGES, partitions=8)
    df.cache().count()
    return df


def test_pages_generation_matches_local(pages):
    got = pages.orderBy("url").toPandas()
    want = synthesize_pages_pdf(0, N_PAGES).sort_values("url").reset_index(
        drop=True)
    assert (got["text"].values == want["text"].values).all()
    assert (got["lang"].values == want["lang"].values).all()


def test_text_invariant(pages):
    assert text_invariant_violations(pages) == 0


def test_extract_points_counts(pages):
    pts = extract_points(pages)
    n = pts.count()
    # ~90% of pages have >=1 anchor, ~13.5% have 2
    assert N_PAGES * 0.9 < n < N_PAGES * 1.2
    # every anchor inside the world clip
    mm = pts.agg(F.min("latitude"), F.max("latitude")).collect()[0]
    assert mm[0] >= -60.0 and mm[1] <= 85.0


def test_index_pipeline_and_queries(engine, pages):
    sid, rows = index_pages(engine.catalog, pages, dataset="page_points",
                            max_res=9, parent_res=1, salt=4)
    assert rows > N_PAGES * 0.9
    man = engine.catalog.read_manifest("page_points")
    assert man["snapshot_id"] == sid
    assert man["total_rows"] == rows
    assert all(f["rows"] > 0 for f in man["files"])
    assert man["lineage"]["stage"] == "index_pages"
    # partition layout on p1
    assert man["partition_by"] == ["p1"]
    assert all("p1" in f["partition"] for f in man["files"])

    # point-dataset radius query around Berlin
    got = engine.radius("page_points", 52.52, 13.40, 30.0)
    n_berlin = got.count()
    assert n_berlin > 50  # Berlin is a skew cluster
    # res columns present (reference point-dataset convention)
    assert "res0" in got.columns and "res9" in got.columns

    # verify cells against driver-side kernel on a sample
    sample = engine.catalog.load("page_points").limit(200).toPandas()
    want = h3core.cell_to_string(h3core.latlng_to_cell(
        sample["latitude"].values, sample["longitude"].values, 7))
    assert (sample["res7"].values == want).all()


def test_determinism_across_layouts(engine, spark):
    """same input partitioned differently -> identical indexed rows
    (north_rule: identical cell assignments at both parallelism levels),
    on the two-stage reference and on the fused indexer."""
    a = extract_points(pages_dataframe(spark, 800, partitions=2))
    b = extract_points(pages_dataframe(spark, 800, partitions=7))
    pa = assign_cells(a).orderBy("url", "latitude").toPandas()
    pb = assign_cells(b).orderBy("url", "latitude").toPandas()
    assert (pa["res9"].values == pb["res9"].values).all()
    assert (pa["cell9"].values == pb["cell9"].values).all()
    fa = extract_index_clip(pages_dataframe(spark, 800, partitions=2))
    fb = extract_index_clip(pages_dataframe(spark, 800, partitions=7))
    fa = fa.orderBy("url", "latitude").toPandas()
    fb = fb.orderBy("url", "latitude").toPandas()
    assert (fa["res9"].values == fb["res9"].values).all()
    assert (fa["cell9"].values == fb["cell9"].values).all()


def test_anchor_kernels_agree_on_malformed():
    """the pandas kernel (reference) and the Arrow kernel (engine) return
    the same anchors for malformed pages, without Spark."""
    import pyarrow as pa
    want = textf.extract_geo_anchors(pd.Series(MALFORMED_HTML, dtype=object))
    got = textf.extract_geo_anchors_arrow(pa.array(MALFORMED_HTML,
                                                   pa.binary()))
    for w, g in zip(want, got):
        np.testing.assert_array_equal(w, g)
    rows, lat, lng = got
    # non-ASCII digits are not an anchor; the overlong latitude parses
    # at full width
    assert rows.tolist() == [0, 2, 2, 5, 5, 5]
    assert lat[0] == float("123456789012345678901234567.123456")


def test_fused_equals_two_stage(spark, pages):
    """the fused indexer the engine runs returns exactly the rows of the
    two-stage reference, on generated and malformed pages."""
    bad = spark.createDataFrame(pd.DataFrame({
        "url": [f"https://bad.example/{i}"
                for i in range(len(MALFORMED_HTML))],
        "warc_ts": pd.Timestamp("2024-01-01"),
        "html": MALFORMED_HTML,
        "text": "",
        "lang": "en"}), PAGES_SCHEMA)
    both = pages.unionByName(bad)
    keys = ["url", "latitude", "longitude"]
    want = (assign_cells(extract_points(both)).toPandas()
            .sort_values(keys).reset_index(drop=True))
    got = (extract_index_clip(both).toPandas()
           .sort_values(keys).reset_index(drop=True))
    assert len(want) > N_PAGES * 0.9
    assert want["url"].str.startswith("https://bad.example/").sum() == 6
    pd.testing.assert_frame_equal(want, got)


def test_snapshot_time_travel(engine, spark):
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    df2 = spark.createDataFrame([(2, "b")], "k long, v string")
    c = engine.catalog
    s1 = c.write("tt_demo", df1)
    s2 = c.write("tt_demo", df2, mode="append")
    assert c.load("tt_demo", snapshot=s1).count() == 1
    assert c.load("tt_demo", snapshot=s2).count() == 2
    assert c.load("tt_demo").count() == 2
    m2 = c.read_manifest("tt_demo", s2)
    assert m2["parent_snapshot_id"] == s1


def test_partition_metrics_rollup(engine, pages):
    index_pages(engine.catalog, pages, dataset="pp_metrics",
                max_res=9, parent_res=1, salt=4)
    pm = engine.catalog.partition_metrics("pp_metrics")
    tot = pm.pop("__total__")
    assert tot["rows"] == sum(v["rows"] for v in pm.values())
    assert tot["lineage"]["stage"] == "index_pages"
    assert "commit_wall_clock_s" in tot["metrics"]
    # every partition key is a p1 parent cell with positive rows
    for key, v in pm.items():
        assert "p1" in key and v["rows"] > 0 and v["files"] >= 1


def test_partition_pruning_radius(engine, pages, capsys):
    """SURVEY §4.2 item 2: point-dataset radius queries compute the
    query region's parent cells driver-side and filter on the p{r}
    partition column — same rows, and the filter reaches the scan as a
    PartitionFilters entry (directory-level pruning)."""
    import io
    from contextlib import redirect_stdout
    index_pages(engine.catalog, pages, dataset="pp_prune",
                max_res=9, parent_res=1, salt=2)
    q = engine.queries("pp_prune")
    df = q.latlong_radius_point(52.52, 13.40, 500.0)
    # parity: pruned plan returns the same rows as a brute filter
    from osc_geo_h3grid_srv_spark.functions.spark_udfs import (
        reference_radius_expr)
    brute = (q.load().filter(
        reference_radius_expr("latitude", "longitude", 52.52, 13.40)
        <= F.lit(500.0)))
    assert df.count() == brute.count() > 0
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "p1" in plan.split(
        "PartitionFilters", 1)[1][:400]


def test_jvm_hex_equals_kernel_strings(spark):
    """the fused path renders H3 strings JVM-side as lower(hex(cell));
    must equal h3core.cell_to_string for every res incl. res-0 and
    pentagon cells."""
    rng = np.random.RandomState(11)
    la = rng.uniform(-89, 89, 2000)
    lo = rng.uniform(-180, 180, 2000)
    rows = []
    want = []
    for r in (0, 1, 5, 9, 15):
        cells = h3core.latlng_to_cell(la, lo, r)
        rows += [(int(c),) for c in cells.view(np.int64)]
        want += h3core.cell_to_string(cells).tolist()
    df = spark.createDataFrame(rows, "cell long")
    got = [r["s"] for r in
           df.select(F.lower(F.hex("cell")).alias("s")).collect()]
    assert got == want


def test_partition_pruning_dateline_radius(engine, spark):
    """pruning must not drop rows across the antimeridian: a radius
    query at lng~180 splits its bbox into both longitude segments."""
    import pandas as pd
    las = np.arange(-2.0, 2.01, 0.25)
    lns = np.concatenate([np.arange(177.0, 180.0, 0.25),
                          np.arange(-180.0, -177.0, 0.25)])
    ga, go = np.meshgrid(las, lns)
    la, lo = ga.ravel(), go.ravel()
    cells9 = h3core.latlng_to_cell(la, lo, 9)
    pdf = pd.DataFrame({
        "latitude": la, "longitude": lo,
        "res9": h3core.cell_to_string(cells9),
        "cell9": cells9.view(np.int64),
        "p1": h3core.cell_to_parent(cells9, 1).view(np.int64),
        "val": np.arange(len(la), dtype=np.float64)})
    df = spark.createDataFrame(pdf)
    engine.catalog.write("dateline_pts", df, mode="overwrite",
                         partition_by=["p1"])
    try:
        engine.catalog.add_meta(
            "dateline_pts", "dateline test points",
            key_columns={"latitude": "REAL", "longitude": "REAL"},
            value_columns={"val": "REAL"}, dataset_type="point")
    except ValueError:
        pass
    q = engine.queries("dateline_pts")
    got = q.latlong_radius_point(0.0, 179.9, 150.0)
    from osc_geo_h3grid_srv_spark.functions.spark_udfs import (
        reference_radius_expr)
    brute = q.load().filter(
        reference_radius_expr("latitude", "longitude", 0.0, 179.9)
        <= F.lit(150.0))
    n_got, n_brute = got.count(), brute.count()
    assert n_got == n_brute
    assert n_brute > 0
    # and rows exist on BOTH sides of the antimeridian
    sides = got.select(
        F.sum((F.col("longitude") > 0).cast("int")).alias("e"),
        F.sum((F.col("longitude") < 0).cast("int")).alias("w")).collect()[0]
    assert sides["e"] > 0 and sides["w"] > 0


def test_partition_pruning_near_pole_radius(engine, spark):
    """ADVICE r01: a disk near (not over) a pole needs the spherical-cap
    longitude half-width asin(sin(c)/cos(lat)) — the linear r/(110 cos)
    bbox under-covers (lat 89, r=100 km: 45.5 deg linear vs 64 needed)
    and pruning on p{r} silently dropped matching rows."""
    import pandas as pd
    las = np.arange(88.2, 89.81, 0.1)
    lns = np.arange(-180.0, 180.0, 2.5)
    ga, go = np.meshgrid(las, lns)
    la, lo = ga.ravel(), go.ravel()
    cells9 = h3core.latlng_to_cell(la, lo, 9)
    pdf = pd.DataFrame({
        "latitude": la, "longitude": lo,
        "res9": h3core.cell_to_string(cells9),
        "cell9": cells9.view(np.int64),
        "p1": h3core.cell_to_parent(cells9, 1).view(np.int64),
        "val": np.arange(len(la), dtype=np.float64)})
    df = spark.createDataFrame(pdf)
    engine.catalog.write("polar_pts", df, mode="overwrite",
                         partition_by=["p1"])
    try:
        engine.catalog.add_meta(
            "polar_pts", "near-pole test points",
            key_columns={"latitude": "REAL", "longitude": "REAL"},
            value_columns={"val": "REAL"}, dataset_type="point")
    except ValueError:
        pass
    q = engine.queries("polar_pts")
    from osc_geo_h3grid_srv_spark.functions.spark_udfs import (
        reference_radius_expr)
    for qlat, qlng, r in ((89.0, 10.0, 100.0), (89.5, -120.0, 80.0),
                          (88.6, 179.0, 200.0)):
        got = q.latlong_radius_point(qlat, qlng, r)
        brute = q.load().filter(
            reference_radius_expr("latitude", "longitude", qlat, qlng)
            <= F.lit(r))
        n_got, n_brute = got.count(), brute.count()
        assert n_got == n_brute, (qlat, qlng, r, n_got, n_brute)
        assert n_brute > 0


@pytest.fixture(scope="module")
def pp_prune(engine, pages):
    index_pages(engine.catalog, pages, dataset="pp_prune",
                max_res=9, parent_res=1, salt=2)
    return engine.queries("pp_prune")


def _sorted_pdf(df, columns):
    pdf = df[columns] if isinstance(df, pd.DataFrame) else \
        df.select(*columns).toPandas()
    return pdf.sort_values(columns).reset_index(drop=True)


def assert_pruned_equals_brute(q, df, brute):
    """`df` reads fewer files than the snapshot holds and returns the
    same non-empty rows as `brute`, an unpruned filter over q.load()
    (a Spark or pandas DataFrame)."""
    n_files = len(q.catalog.read_manifest(q.dataset)["files"])
    assert 0 < len(df.inputFiles()) < n_files
    got = _sorted_pdf(df, df.columns)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, _sorted_pdf(brute, df.columns))


def test_pruned_builders_match_brute(pp_prune):
    """every builder that plans its files from the manifest returns the
    rows of a brute filter over the whole snapshot, from fewer files."""
    from osc_geo_h3grid_srv_spark.functions import geo
    from osc_geo_h3grid_srv_spark.functions.spark_udfs import (
        reference_radius_expr)
    q = pp_prune
    full = q.load()

    def within(lat, lng, r):
        return full.filter(
            reference_radius_expr("latitude", "longitude", lat, lng)
            <= F.lit(r))

    assert_pruned_equals_brute(q, q.latlong_radius_point(52.52, 13.40, 300.0),
                               within(52.52, 13.40, 300.0))

    cell7 = h3core.latlng_to_cell(np.array([52.52]), np.array([13.40]), 7)
    clat, clng = h3core.cell_to_latlng(cell7)
    assert_pruned_equals_brute(
        q, q.cell_radius_point(h3core.cell_to_string(cell7)[0], 200.0),
        within(float(clat[0]), float(clng[0]), 200.0))

    res7 = full.filter(F.col("latitude").between(52.0, 53.0)).first()["res7"]
    assert_pruned_equals_brute(q, q.cell_point_point(res7),
                               full.filter(F.col("res7") == res7))

    assert_pruned_equals_brute(
        q, q.bounding_box(51.0, 54.0, 12.0, 15.0),
        full.filter(F.col("latitude").between(51.0, 54.0)
                    & F.col("longitude").between(12.0, 15.0)))

    poly = geo.PackedPolygons.from_latlng_rings(
        [[[(51.5, 12.0), (53.5, 12.5), (52.8, 15.0), (51.5, 12.0)]]],
        names=["tri"])
    got = q.shapefile_point(poly, region="tri")
    pdf = full.toPandas()
    inside = geo.points_in_polys(pdf["latitude"].values,
                                 pdf["longitude"].values, poly)
    assert_pruned_equals_brute(q, got, pdf[inside])


def test_mid_ocean_radius_is_empty(pp_prune):
    """no manifest file can match a mid-Pacific radius query: the load is
    an empty DataFrame with the columns and types of a non-empty one."""
    q = pp_prune
    empty = q.latlong_radius_point(5.0, -170.0, 50.0)
    assert empty.inputFiles() == []
    assert empty.count() == 0
    assert empty.dtypes == q.latlong_radius_point(52.52, 13.40, 50.0).dtypes


def test_point_routes_read_manifest_and_metadata_once(engine, pp_prune,
                                                      monkeypatch):
    """building a point-route DataFrame reads the HEAD manifest once
    (planning and load share it) and dataset_metadata.json once."""
    from osc_geo_h3grid_srv_spark.functions import geo
    from osc_geo_h3grid_srv_spark.sources.catalog import Catalog
    calls = {"read_manifest": 0, "_read_meta": 0}
    for name in calls:
        orig = getattr(Catalog, name)

        def counted(self, *a, _orig=orig, _name=name, **kw):
            calls[_name] += 1
            return _orig(self, *a, **kw)
        monkeypatch.setattr(Catalog, name, counted)
    cell = h3core.cell_to_string(h3core.latlng_to_cell(
        np.array([52.52]), np.array([13.40]), 7))[0]
    poly = geo.PackedPolygons.from_latlng_rings(
        [[[(52.0, 13.0), (53.0, 13.0), (53.0, 14.0), (52.0, 14.0)]]],
        names=["box"])
    for build in (lambda: engine.radius("pp_prune", 52.52, 13.40, 20.0),
                  lambda: engine.cell_radius("pp_prune", cell, 20.0),
                  lambda: engine.cell_point("pp_prune", cell),
                  lambda: engine.shapefile_get("pp_prune", poly, "box")):
        for name in calls:
            calls[name] = 0
        build()
        assert calls == {"read_manifest": 1, "_read_meta": 1}


@pytest.fixture(scope="module")
def edge_pts(engine, spark):
    """points on both sides of the antimeridian, in a north polar cap and
    scattered over the globe, partitioned by their res-1 parent."""
    rng = np.random.RandomState(5)
    dl_a, dl_o = np.meshgrid(np.arange(-2.0, 2.01, 0.25),
                             np.concatenate([np.arange(177.0, 180.0, 0.25),
                                             np.arange(-180.0, -177.0, 0.25)]))
    po_a, po_o = np.meshgrid(np.arange(88.2, 89.81, 0.1),
                             np.arange(-180.0, 180.0, 2.5))
    la = np.concatenate([dl_a.ravel(), po_a.ravel(),
                         rng.uniform(-80.0, 80.0, 300)])
    lo = np.concatenate([dl_o.ravel(), po_o.ravel(),
                         rng.uniform(-180.0, 180.0, 300)])
    cells9 = h3core.latlng_to_cell(la, lo, 9)
    pdf = pd.DataFrame({
        "latitude": la, "longitude": lo,
        "res9": h3core.cell_to_string(cells9),
        "p1": h3core.cell_to_parent(cells9, 1).view(np.int64),
        "val": np.arange(len(la), dtype=np.float64)})
    engine.catalog.write("edge_pts", spark.createDataFrame(pdf),
                         mode="overwrite", partition_by=["p1"])
    try:
        engine.catalog.add_meta(
            "edge_pts", "antimeridian, polar and global test points",
            key_columns={"latitude": "REAL", "longitude": "REAL"},
            value_columns={"val": "REAL"}, dataset_type="point")
    except ValueError:
        pass
    return engine.queries("edge_pts")


@pytest.mark.parametrize("lat,lng,r", [
    (0.0, 179.9, 150.0),    # bbox split at the antimeridian
    (89.5, 30.0, 120.0),    # the cap covers the pole: every longitude
])
def test_edge_radius_reads_fewer_files(edge_pts, lat, lng, r):
    from osc_geo_h3grid_srv_spark.functions.spark_udfs import (
        reference_radius_expr)
    q = edge_pts
    got = q.latlong_radius_point(lat, lng, r)
    brute = q.load().filter(
        reference_radius_expr("latitude", "longitude", lat, lng)
        <= F.lit(r))
    assert_pruned_equals_brute(q, got, brute)
    if lat == 0.0:
        lngs = [row["longitude"] for row in got.collect()]
        assert min(lngs) < 0 < max(lngs)


def test_outlinks_resolve_to_existing_pages(pages):
    # generator v2 plants 0-2 <a href> outlinks per page targeting
    # EARLIER page indices, so any generated prefix is a CLOSED link
    # graph: every extracted href must be the url of a page in the same
    # batch. Empty anchor text keeps extract_text byte-identical
    # (test_text_invariant covers that on this same fixture).
    from osc_geo_h3grid_srv_spark.operators.weburl import extract_links
    links = extract_links(pages)
    n = links.count()
    # ~7/8 of pages carry link 1 and ~1/4 link 2 (page 0 carries none)
    assert N_PAGES * 0.9 < n < N_PAGES * 1.3
    unresolved = links.join(
        pages.select(F.col("url").alias("href")),
        "href", "left_anti").count()
    assert unresolved == 0
    # determinism: same batch regenerated -> same edge multiset
    from osc_geo_h3grid_srv_spark.sources.pages import synthesize_pages_pdf
    import re
    pdf = synthesize_pages_pdf(0, N_PAGES)
    want = sorted(
        (u, m) for u, h in zip(pdf["url"], pdf["html"])
        for m in re.findall(rb'<a\s+href="([^"]*)"', bytes(h)))
    got = sorted((r["src_url"], r["href"].encode())
                 for r in links.collect())
    assert got == want
