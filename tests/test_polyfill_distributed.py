"""Distributed polyfill (VERDICT r01 next-step #10): per-parent executor
refinement must equal the driver path exactly where the driver path is
feasible, and remain sound + complete at continent scale where the
driver grid is refused."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osc_geo_h3grid_srv_spark.functions import geo, h3core
from osc_geo_h3grid_srv_spark.operators import polyfill as pf
from osc_geo_h3grid_srv_spark.operators.queries import enumerate_region_cells

GERMANY = [(47.0, 6.0), (47.0, 15.0), (55.0, 15.0), (55.0, 6.0)]
# concave west/central-europe outline, 16 x 24 degrees — at res 8 the
# driver grid exceeds polyfill_candidates' 20M cap
EUROPE = [(42.0, -5.0), (42.0, 10.0), (46.0, 14.0), (54.0, 19.0),
          (58.0, 10.0), (58.0, 0.0), (50.0, 2.0)]


def _driver_cells(pp, res):
    return set(geo.polyfill(
        pp, res, buffer_deg=geo.get_buffer_deg(res)).tolist())


@pytest.mark.parametrize("res", [4, 6])
def test_distributed_equals_driver(spark, res):
    pp = geo.PackedPolygons.from_latlng_rings(
        [[GERMANY, [(50.0, 9.0), (50.0, 11.0), (52.0, 11.0),
                    (52.0, 9.0)]]], ["germany"])
    want = _driver_cells(pp, res)
    got = {np.int64(r["cell"]).view(np.uint64).item() for r in
           pf.polyfill_distributed(
               spark, pp, res,
               buffer_deg=geo.get_buffer_deg(res)).collect()}
    assert got == want and want


def test_continental_scale_driver_refuses_distributed_works(spark):
    pp = geo.PackedPolygons.from_latlng_rings([[EUROPE]], ["europe"])
    res = 8
    buffer_deg = geo.get_buffer_deg(res)
    assert pf.estimate_driver_samples(pp, res, buffer_deg) > 20_000_000
    with pytest.raises(ValueError, match="too large"):
        geo.polyfill(pp, res, buffer_deg=buffer_deg)
    df = pf.polyfill_distributed(spark, pp, res, buffer_deg=buffer_deg)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan  # the distributed refine stage
    cells = np.array([r["cell"] for r in df.collect()],
                     dtype=np.int64).view(np.uint64)
    # no duplicates (parent-ownership dedup, no shuffle needed)
    assert len(cells) == len(set(cells.tolist()))
    # plausibility: area of europe polygon / cell area, within 25%
    a, _ = geo.ring_area_perimeter(np.asarray(EUROPE))
    approx_km2 = a * 110.0 * 110.0 * np.cos(np.radians(50.0))
    expect = approx_km2 / h3core.AVG_CELL_AREA_KM2[res]
    assert 0.75 * expect < len(cells) < 1.25 * expect
    got = set(cells.tolist())
    # soundness: every returned cell's centroid passes the criterion
    sample = cells[np.random.RandomState(0).choice(
        len(cells), 5000, replace=False)]
    la, lo = h3core.cell_to_latlng(sample)
    ok = geo.points_in_polys(la, lo, pp) | (
        geo.points_to_boundary_deg(la, lo, pp) <= buffer_deg)
    assert ok.all()
    # completeness: cells of random interior points are all present
    rng = np.random.RandomState(1)
    pts_la = rng.uniform(42.0, 58.0, 20000)
    pts_lo = rng.uniform(-5.0, 19.0, 20000)
    deep = geo.points_in_polys(pts_la, pts_lo, pp) & (
        geo.points_to_boundary_deg(pts_la, pts_lo, pp) > 0.2)
    want = h3core.latlng_to_cell(pts_la[deep], pts_lo[deep], res)
    missing = [c for c in set(want.tolist()) if c not in got]
    assert not missing


def test_enumerate_region_cells_auto_switch(spark, monkeypatch):
    pp = geo.PackedPolygons.from_latlng_rings([[GERMANY]], ["germany"])
    # small: driver path; forced distributed must agree
    drv = {r["cell"] for r in
           enumerate_region_cells(spark, pp, resolution=5).collect()}
    with monkeypatch.context() as m:
        m.setattr(pf, "DRIVER_SAMPLE_LIMIT", 0)
        dist = {r["cell"] for r in
                enumerate_region_cells(spark, pp, resolution=5).collect()}
    assert drv == dist and drv
    # continent-scale at res 8 auto-routes to the distributed path
    ppe = geo.PackedPolygons.from_latlng_rings([[EUROPE]], ["europe"])
    df = enumerate_region_cells(spark, ppe, resolution=8)
    assert "MapInPandas" in \
        df._jdf.queryExecution().executedPlan().toString()
    assert df.limit(5).count() == 5
