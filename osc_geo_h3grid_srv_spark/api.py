"""Call-compatible REST surface, minus the HTTP server.

The reference exposes 11 endpoints (src/geoserver/geomesh_router.py:
35-248 and point_router.py:45-208) whose pydantic argument models carry
the defaults and validation (geomesh_router_arguments.py:13-172).
FastAPI/pydantic are not available here, so this module ports the
argument models as validating dataclass-likes and routes each endpoint
to the engine — `GeoMeshService.post/get` takes the reference's route
template verbatim, so an HTTP shim can bind the routes one-to-one.

Every handler returns {"columns": [...], "data": [[...], ...]}.
"""

from __future__ import annotations

import pandas as pd

from .cli.common import df_payload

_MISSING = object()


class _Args:
    """pydantic-BaseModel-lite: FIELDS = {name: (type, default)} with
    default _MISSING = required; extras ignored (pydantic default),
    values coerced to the declared type, failures raise ValueError."""

    FIELDS: dict = {}

    def __init__(self, **kw):
        for name, (typ, default) in self.FIELDS.items():
            if name in kw and kw[name] is not None:
                v = kw[name]
                try:
                    self.__dict__[name] = typ(v)
                except (TypeError, ValueError):
                    raise ValueError(
                        f"{type(self).__name__}.{name}: cannot coerce "
                        f"{v!r} to {typ.__name__}")
            elif default is _MISSING:
                raise ValueError(
                    f"{type(self).__name__}: missing required field "
                    f"{name!r}")
            else:
                self.__dict__[name] = default


_TIME = {"year": (int, None), "month": (int, None), "day": (int, None)}


class GeomeshLatLongRadiusArgs(_Args):
    FIELDS = {"latitude": (float, _MISSING), "longitude": (float, _MISSING),
              "radius": (float, _MISSING), "resolution": (int, 3), **_TIME}


class GeomeshLatLongPointArgs(_Args):
    FIELDS = {"latitude": (float, _MISSING), "longitude": (float, _MISSING),
              "resolution": (int, 7), **_TIME}


class GeomeshCellRadiusArgs(_Args):
    FIELDS = {"cell": (str, _MISSING), "radius": (float, _MISSING), **_TIME}


class GeomeshCellPointArgs(_Args):
    FIELDS = {"cell": (str, _MISSING), **_TIME}


class GeomeshShapefileArgs(_Args):
    FIELDS = {"shapefile": (str, _MISSING), "region": (str, None),
              "resolution": (int, 7), **_TIME}


class AssetFilter(_Args):
    FIELDS = {"column": (str, _MISSING), "filter_type": (str, _MISSING),
              "target_value": (float, _MISSING)}

    VALID = ("greater_than", "greater_than_or_equal", "lesser_than",
             "lesser_than_or_equal", "equal_to")

    def __init__(self, **kw):
        super().__init__(**kw)
        if self.filter_type not in self.VALID:
            raise ValueError(f"filter_type must be one of {self.VALID}, "
                             f"got {self.filter_type!r}")


class DatasetArg(_Args):
    FIELDS = {"name": (str, _MISSING), "filters": (list, _MISSING)}

    def __init__(self, **kw):
        super().__init__(**kw)
        self.filters = [f if isinstance(f, AssetFilter) else AssetFilter(**f)
                        for f in self.filters]


class LocatedAsset(_Args):
    FIELDS = {"id": (str, _MISSING), "lat": (float, _MISSING),
              "long": (float, _MISSING)}


GEO = "/api/geomesh"
POINT = "/api/datasets/point"


class GeoMeshService:
    """the 11 reference endpoints over a GeoMeshEngine."""

    def __init__(self, engine):
        self.engine = engine
        self.routes = {
            ("POST", f"{GEO}/latlong/radius/{{dataset}}"):
                (GeomeshLatLongRadiusArgs, self._latlong_radius),
            ("POST", f"{GEO}/latlong/point/{{dataset}}"):
                (GeomeshLatLongPointArgs, self._latlong_point),
            ("POST", f"{GEO}/cell/radius/{{dataset}}"):
                (GeomeshCellRadiusArgs, self._cell_radius),
            ("POST", f"{GEO}/cell/point/{{dataset}}"):
                (GeomeshCellPointArgs, self._cell_point),
            ("POST", f"{GEO}/shapefile/{{dataset}}"):
                (GeomeshShapefileArgs, self._shapefile),
            ("POST", f"{GEO}/filter"): (None, self._filter_assets),
            ("GET", f"{GEO}/showmeta"): (None, self._showmeta),
            ("POST", f"{POINT}/latlong/radius/{{dataset}}"):
                (GeomeshLatLongRadiusArgs, self._latlong_radius),
            ("POST", f"{POINT}/cell/radius/{{dataset}}"):
                (GeomeshCellRadiusArgs, self._cell_radius),
            ("POST", f"{POINT}/cell/point/{{dataset}}"):
                (GeomeshCellPointArgs, self._cell_point),
            ("POST", f"{POINT}/shapefile/{{dataset}}"):
                (GeomeshShapefileArgs, self._shapefile),
        }

    def post(self, route: str, dataset: str | None = None, body=None):
        return self._call("POST", route, dataset, body or {})

    def get(self, route: str, dataset: str | None = None):
        return self._call("GET", route, dataset, {})

    def _call(self, method, route, dataset, body):
        key = (method, route)
        if key not in self.routes:
            raise KeyError(f"no route {method} {route}")
        model, fn = self.routes[key]
        args = model(**body) if model is not None else body
        return fn(dataset, args)

    # -- handlers (engine handles h3 vs point dataset types itself) ---------

    @staticmethod
    def _tkw(a):
        return {"year": a.year, "month": a.month, "day": a.day}

    def _latlong_radius(self, dataset, a):
        return df_payload(self.engine.radius(
            dataset, a.latitude, a.longitude, a.radius,
            resolution=a.resolution, **self._tkw(a)))

    def _latlong_point(self, dataset, a):
        return df_payload(self.engine.latlong_point(
            dataset, a.latitude, a.longitude, resolution=a.resolution,
            **self._tkw(a)))

    def _cell_radius(self, dataset, a):
        return df_payload(self.engine.cell_radius(
            dataset, a.cell, a.radius, **self._tkw(a)))

    def _cell_point(self, dataset, a):
        return df_payload(self.engine.cell_point(
            dataset, a.cell, **self._tkw(a)))

    def _shapefile(self, dataset, a):
        from .cli.common import load_polygons
        pp = load_polygons(a.shapefile)
        return df_payload(self.engine.shapefile_get(
            dataset, pp, region=a.region, resolution=a.resolution,
            **self._tkw(a)))

    def _filter_assets(self, _dataset, body):
        """POST /api/geomesh/filter: body = {"assets": <parquet path or
        list of LocatedAsset dicts>, "datasets": [DatasetArg dicts]}.
        Listed assets are already on the driver, so they go to the
        correlator as a pandas frame and get their cells there."""
        specs = [d if isinstance(d, DatasetArg) else DatasetArg(**d)
                 for d in body["datasets"]]
        spec_dicts = [
            {"name": d.name,
             "filters": [{"column": f.column, "filter_type": f.filter_type,
                          "target_value": f.target_value}
                         for f in d.filters]} for d in specs]
        assets = body["assets"]
        if isinstance(assets, str):
            adf = self.engine.spark.read.parquet(assets)
        else:
            rows = [LocatedAsset(**a) if not isinstance(a, LocatedAsset)
                    else a for a in assets]
            adf = pd.DataFrame({
                "id": pd.Series([r.id for r in rows], dtype=object),
                "lat": pd.Series([r.lat for r in rows], dtype="float64"),
                "long": pd.Series([r.long for r in rows], dtype="float64")})
        return df_payload(self.engine.correlate(adf, spec_dicts))

    def _showmeta(self, _dataset, _body):
        return df_payload(self.engine.show_meta())
