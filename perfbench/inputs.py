"""Seeded inputs: pages with malformed anchors, regions, cluster points.

Pages come from the engine's own deterministic generator
(`sources.pages.pages_dataframe`) at a seed-derived row offset, so two
seeds give disjoint page sets and one seed always gives the same pages.
A fixed small share of pages then gains one malformed geo anchor: a
latitude beyond +-90 degrees, or a latitude with 27 integer digits.
"""

from __future__ import annotations

import json
import random

import numpy as np

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")

# per-mille of pages given each kind of malformed anchor
BAD_LAT_PER_MILLE = 3
BAD_DIGITS_PER_MILLE = 3
_BAD_SALT = np.uint64(0xBAD0C00DBAD0C00D)

# flagship clip region: Germany-like shell with a hole (lat, lng); it
# holds the Berlin and Cologne page clusters
FLAGSHIP_SHELL = [(47.0, 5.5), (47.0, 15.5), (55.5, 15.5), (55.5, 5.5)]
FLAGSHIP_HOLE = [(49.0, 8.0), (49.0, 9.0), (50.0, 9.0), (50.0, 8.0)]

# page clusters inside the extent of the flood fixture (Germany)
FLOOD_CITIES = ((52.52, 13.40), (50.95, 6.95))


def page_offset(seed: int, stream: int) -> int:
    """first page id of input stream `stream` (< 16) for `seed`: streams
    of one seed and different seeds never overlap (2^20 pages each)."""
    return ((seed % (1 << 30)) << 24) | (stream << 20)


def _malform(batches):
    """mapInPandas body: append one malformed anchor to a fixed share of
    pages (chosen by page id) and re-derive their text."""
    from osc_geo_h3grid_srv_spark.functions.text import extract_text, mix64
    for pdf in batches:
        ids = pdf["url"].str.rsplit("/", n=1).str[-1].astype(np.uint64)
        h = mix64(ids.to_numpy() ^ _BAD_SALT)
        kind = (h % np.uint64(1000)).astype(np.int64)
        bad = np.flatnonzero(kind < BAD_LAT_PER_MILLE + BAD_DIGITS_PER_MILLE)
        if len(bad):
            html = pdf["html"].copy()
            for i in bad:
                hi = int(h[i])
                lng = (hi >> 20) % 360_000_000 / 1e6 - 180.0
                if kind[i] < BAD_LAT_PER_MILLE:
                    lat = f"{90.5 + (hi >> 8) % 800 / 100.0:.6f}"
                else:
                    lat = f"{10**26 + hi}.000000"
                span = f'<span class="geo">{lat},{lng:.6f}</span>'.encode()
                html.iat[i] = bytes(html.iat[i]).replace(
                    b"</body>", span + b"</body>", 1)
            pdf["html"] = html
            pdf.loc[pdf.index[bad], "text"] = extract_text(html.iloc[bad])
        yield pdf


def pages_df(spark, n: int, seed: int, stream: int, partitions: int):
    """DataFrame of `n` generated pages (with malformed anchors)."""
    from osc_geo_h3grid_srv_spark.sources.pages import pages_dataframe
    base = pages_dataframe(spark, n, partitions=partitions,
                           start=page_offset(seed, stream))
    return base.mapInPandas(_malform, schema=PAGES_SCHEMA)


def write_pages(spark, path: str, n: int, seed: int, stream: int,
                partitions: int) -> str:
    pages_df(spark, n, seed, stream, partitions).write.parquet(path)
    return path


def flagship_region():
    from osc_geo_h3grid_srv_spark.functions import geo
    return geo.PackedPolygons.from_latlng_rings(
        [[FLAGSHIP_SHELL, FLAGSHIP_HOLE]], ["germany"])


def city_point(rng: random.Random, cities) -> tuple[float, float]:
    """a point of a page cluster: city centre + gaussian offset with the
    generator's sigma (0.25 degrees)."""
    lat, lng = cities[rng.randrange(len(cities))]
    return lat + rng.gauss(0.0, 0.25), lng + rng.gauss(0.0, 0.25)


def write_regions(path: str, seed: int, n_regions: int = 6) -> list[str]:
    """GeoJSON of seeded quadrilaterals around page clusters (half of
    them around the flood-fixture cities); returns the region names."""
    from osc_geo_h3grid_srv_spark.sources.pages import CITY_CENTERS
    rng = random.Random(f"regions-{seed}")
    feats, names = [], []
    for i in range(n_regions):
        cities = FLOOD_CITIES if i % 2 == 0 else CITY_CENTERS.tolist()
        lat, lng = city_point(rng, cities)
        dla, dlo = rng.uniform(0.08, 0.2), rng.uniform(0.1, 0.25)
        # a skewed quadrilateral (lng, lat order per GeoJSON)
        ring = [[lng - dlo, lat - dla], [lng + dlo, lat - dla * 0.6],
                [lng + dlo * 0.7, lat + dla], [lng - dlo * 0.8, lat + dla],
                [lng - dlo, lat - dla]]
        name = f"region{i}"
        feats.append({"type": "Feature", "properties": {"name": name},
                      "geometry": {"type": "Polygon",
                                   "coordinates": [ring]}})
        names.append(name)
    with open(path, "w") as fh:
        json.dump({"type": "FeatureCollection", "features": feats}, fh)
    return names
