"""One DatasetQueries method per route, for h3 and point datasets alike:
the guards each dataset type applies through the same call, and the h3
shapefile route's use of enumerate_region_cells' driver/distributed
polyfill switch."""

import numpy as np
import pandas as pd
import pytest

from osc_geo_h3grid_srv_spark.functions import geo, h3core

BOX = geo.PackedPolygons.from_latlng_rings(
    [[[(50.0, 8.0), (50.0, 9.5), (51.0, 9.5), (51.0, 8.0)]]], ["box"])


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def routes(engine, spark):
    """the h3 flood fixture and a point dataset with a res7 column only."""
    rng = np.random.default_rng(7)
    la = rng.uniform(50.0, 53.0, 400)
    lo = rng.uniform(8.0, 14.0, 400)
    pdf = pd.DataFrame({
        "latitude": la, "longitude": lo,
        "res7": h3core.cell_to_string(h3core.latlng_to_cell(la, lo, 7)),
        "val": np.arange(len(la), dtype=np.float64)})
    engine.load_dataset_from_df(
        "route_pts", spark.createDataFrame(pdf), dataset_type="point",
        key_columns={"latitude": "REAL", "longitude": "REAL"},
        value_columns={"val": "REAL"})
    return {"h3": engine.queries("flood_0010y"),
            "point": engine.queries("route_pts")}


@pytest.mark.parametrize("ds_type", ["h3", "point"])
def test_merged_routes_apply_the_dataset_types_rules(routes, ds_type):
    q = routes[ds_type]
    # point datasets reject a negative radius and accept one below the
    # h3 res-7 minimum; h3 datasets reject that one
    if ds_type == "point":
        with pytest.raises(ValueError, match="must be >= 0"):
            q.latlong_radius(52.5, 13.4, -5.0)
        q.latlong_radius(52.5, 13.4, 0.5, resolution=7)
    else:
        with pytest.raises(ValueError, match="below minimum"):
            q.latlong_radius(52.5, 13.4, 0.5, resolution=7)
    # radius -1 turns the radius filter off
    assert (q.latlong_radius(52.5, 13.4, -1, resolution=7).count()
            == q.load().count() > 0)
    # a res-5 cell: h3 datasets compare it with h3_cell (no res-7 row
    # matches); point datasets need a res5 column, which this one lacks
    cell5 = h3core.cell_to_string(h3core.latlng_to_cell(
        np.array([52.5]), np.array([13.4]), 5))[0]
    if ds_type == "point":
        with pytest.raises(ValueError, match="no res5 column"):
            q.cell_point(cell5)
    else:
        assert q.cell_point(cell5).count() == 0
    with pytest.raises(ValueError, match="not in shapefile"):
        q.shapefile(BOX, region="nowhere", resolution=7)


def test_h3_shapefile_switches_to_distributed_polyfill(routes, monkeypatch):
    """above DRIVER_SAMPLE_LIMIT the h3 shapefile route enumerates the
    region's cells with polyfill_distributed, and returns the rows the
    driver polyfill gives."""
    from osc_geo_h3grid_srv_spark.operators import polyfill
    q = routes["h3"]
    want = _rowset(q.shapefile(BOX, region="box", resolution=7))
    calls = []
    orig = polyfill.polyfill_distributed

    def spy(*a, **kw):
        calls.append(a[2])
        return orig(*a, **kw)
    monkeypatch.setattr(polyfill, "polyfill_distributed", spy)
    monkeypatch.setattr(polyfill, "DRIVER_SAMPLE_LIMIT", 0)
    got = _rowset(q.shapefile(BOX, region="box", resolution=7))
    assert calls == [7]
    assert len(want) > 100
    assert got == want
