"""GeoJSON-style object model — the engine's `fiona/model.py` parity
surface (Geometry / Feature / Properties mapping objects with
``__geo_interface__``, ``from_dict`` constructors, a JSON encoder and
``decode_object``), plus converters between these objects and the
engine's columnar ring model (geom_type, rings_xs, rings_ys).

The reference iterates Feature objects one at a time
(`fiona/model.py:118-455`); here they are the INTERCHANGE form at the
edges of the engine — collected rows convert to Features for GeoJSON
consumers, and incoming feature dicts convert to rows for
``spark.createDataFrame``.  All per-feature work stays at the driver
boundary by design; bulk paths use the columnar sources instead.
"""

from __future__ import annotations

import base64
import datetime
import decimal
import json
from collections.abc import Mapping

import numpy as np

from .schema import RING_COLS


class Object(Mapping):
    """Immutable-ish mapping base for Geometry/Feature/Properties —
    dict-style access over the declared fields plus extra data."""

    _delegated: tuple = ()

    def __init__(self, **data):
        self._data = data

    def _props(self) -> dict:
        return {k: getattr(self, k) for k in self._delegated}

    def __getitem__(self, item):
        props = {**self._data, **self._props()}
        return props[item]

    def __iter__(self):
        return iter({**self._data, **self._props()})

    def __len__(self):
        return len({**self._data, **self._props()})

    def __eq__(self, other):
        if isinstance(other, Object):
            return dict(self) == dict(other)
        return dict(self) == other

    def __repr__(self):
        kvs = ", ".join(f"{k}={v!r}" for k, v in self.items())
        return f"fiona_spark.{type(self).__name__}({kvs})"


class Geometry(Object):
    """GeoJSON geometry: type + coordinates (or geometries for a
    GeometryCollection)."""

    _delegated = ("type", "coordinates")

    def __init__(self, coordinates=None, type=None, geometries=None,
                 **data):
        self._coordinates = coordinates
        self._type = type
        self._geometries = geometries
        super().__init__(**data)

    @classmethod
    def from_dict(cls, ob=None, **kwargs):
        if ob is not None:
            kwargs = {**dict(ob), **kwargs}
        geoms = kwargs.pop("geometries", None)
        if geoms is not None:
            geoms = tuple(Geometry.from_dict(g) for g in geoms)
        return cls(coordinates=kwargs.pop("coordinates", None),
                   type=kwargs.pop("type", None),
                   geometries=geoms, **kwargs)

    @property
    def coordinates(self):
        return self._coordinates

    @property
    def type(self):
        return self._type

    @property
    def geometries(self):
        return self._geometries

    def _props(self):
        d = {"type": self._type}
        if self._geometries is not None:
            d["geometries"] = self._geometries
        else:
            d["coordinates"] = self._coordinates
        return d

    @property
    def __geo_interface__(self):
        return dict(self)


class Properties(Object):
    """Feature properties mapping."""

    @classmethod
    def from_dict(cls, mapping=None, **kwargs):
        return cls(**{**dict(mapping or {}), **kwargs})


class Feature(Object):
    """GeoJSON feature: id + geometry + properties."""

    _delegated = ("id", "geometry", "properties")

    def __init__(self, geometry=None, id=None, properties=None, **data):
        self._geometry = geometry
        self._id = id
        self._properties = properties if properties is not None \
            else Properties()
        super().__init__(**data)

    @classmethod
    def from_dict(cls, ob=None, **kwargs):
        if ob is not None:
            kwargs = {**dict(ob), **kwargs}
        geom = kwargs.pop("geometry", None)
        if geom is not None and not isinstance(geom, Geometry):
            geom = Geometry.from_dict(geom)
        props = kwargs.pop("properties", None)
        if props is not None and not isinstance(props, Properties):
            props = Properties.from_dict(props)
        return cls(geometry=geom, id=kwargs.pop("id", None),
                   properties=props, **kwargs)

    @property
    def geometry(self):
        return self._geometry

    @property
    def id(self):
        return self._id

    @property
    def properties(self):
        return self._properties

    @property
    def type(self):
        return "Feature"

    @property
    def __geo_interface__(self):
        return {
            "type": "Feature", "id": self._id,
            "geometry": dict(self._geometry)
            if self._geometry is not None else None,
            "properties": dict(self._properties)}


class ObjectEncoder(json.JSONEncoder):
    """JSON encoder aware of the model objects, numpy scalars and the
    Python values of Spark's date, timestamp, decimal and binary
    columns (ISO 8601 text, exact decimal text, base64)."""

    def default(self, o):
        if isinstance(o, Object):
            return dict(o)
        if isinstance(o, (datetime.date, datetime.datetime)):
            return o.isoformat()
        if isinstance(o, decimal.Decimal):
            return str(o)
        if isinstance(o, (bytes, bytearray)):
            return base64.b64encode(o).decode("ascii")
        if isinstance(o, (np.integer,)):
            return int(o)
        if isinstance(o, (np.floating,)):
            return float(o)
        if isinstance(o, np.ndarray):
            return o.tolist()
        return super().default(o)


def decode_object(obj):
    """Dict -> model object by shape: Feature when ``type='Feature'``,
    Geometry when it has ``type`` + coordinates/geometries, else the
    input unchanged (`fiona/model.py:430-455` contract)."""
    if isinstance(obj, (Feature, Geometry)):
        return obj
    if isinstance(obj, Mapping):
        if obj.get("type") == "Feature":
            return Feature.from_dict(obj)
        if "type" in obj and ("coordinates" in obj or "geometries" in obj):
            return Geometry.from_dict(obj)
    return obj


# ---------------------------------------------------------------------------
# Columnar ring model <-> Geometry
# ---------------------------------------------------------------------------

def rings_from_geometry(geometry) -> tuple[str, list, list]:
    """Geometry (object or dict) -> (geom_type, rings_xs, rings_ys) —
    the engine's columnar form (every ring a coordinate array; part
    grouping of MultiPolygons flattens, recoverable by nesting)."""
    g = decode_object(geometry)
    t = g["type"]
    if t == "GeometryCollection":
        # flatten member rings (the ring model is typeless even-odd
        # coordinate sets; the collection type is kept on the row).
        # Not rebuildable by geometry_from_rings — one-way, like the
        # reference's GC normalization notes.
        rxs, rys = [], []
        members = g.get("geometries") or g.get("coordinates") or []
        for m in members:
            _t, mx, my = rings_from_geometry(m)
            rxs.extend(mx); rys.extend(my)
        return t, rxs, rys
    c = g.get("coordinates")
    if c is None or len(c) == 0:
        # EMPTY geometries (e.g. WKT 'POINT EMPTY' decodes to
        # coordinates: []) carry no rings; crashing with IndexError
        # here broke feature_to_row / writers on empty inputs
        return t, [], []
    if t == "Point":
        return t, [[float(c[0])]], [[float(c[1])]]
    if t in ("LineString", "MultiPoint"):
        return t, [[float(p[0]) for p in c]], [[float(p[1]) for p in c]]
    if t in ("Polygon", "MultiLineString"):
        return (t, [[float(p[0]) for p in ring] for ring in c],
                [[float(p[1]) for p in ring] for ring in c])
    if t == "MultiPolygon":
        return (t, [[float(p[0]) for p in ring]
                    for part in c for ring in part],
                [[float(p[1]) for p in ring]
                 for part in c for ring in part])
    raise ValueError(f"unsupported geometry type {t!r}")


def geometry_from_rings(geom_type: str, rings_xs, rings_ys) -> Geometry:
    """(geom_type, rings) -> Geometry with proper coordinate nesting.
    MultiPolygon part grouping is RECONSTRUCTED from ring nesting:
    even-depth rings are part shells, each hole attaches to its
    containing shell (vertex-probe containment — the same rule the
    union kernel uses).  Null rings give a null geometry, an empty ring
    list an EMPTY one."""
    if rings_xs is None:
        return None
    if len(rings_xs) == 0:
        return Geometry(type=geom_type, coordinates=[])

    def pts(i):
        return [[x, y] for x, y in zip(rings_xs[i], rings_ys[i])]

    if geom_type == "Point":
        return Geometry(type="Point",
                        coordinates=[rings_xs[0][0], rings_ys[0][0]])
    if geom_type in ("LineString", "MultiPoint"):
        return Geometry(type=geom_type, coordinates=pts(0))
    if geom_type in ("Polygon", "MultiLineString"):
        return Geometry(type=geom_type,
                        coordinates=[pts(i) for i in range(len(rings_xs))])
    if geom_type == "MultiPolygon":
        from . import geom as _g
        rings = [(np.asarray(rx, np.float64), np.asarray(ry, np.float64))
                 for rx, ry in zip(rings_xs, rings_ys)]
        depths = _g._feature_ring_depths(rings) if len(rings) > 1 else [0]
        shells = [i for i, d in enumerate(depths) if d % 2 == 0]
        parts = {i: [pts(i)] for i in shells}
        for i, d in enumerate(depths):
            if d % 2 == 0:
                continue
            # attach the hole to its smallest containing shell
            best, best_area = None, np.inf
            hx, hy = rings[i]
            for s in shells:
                sx, sy = rings[s]
                k = next((k for k in range(len(hx))
                          if not _g._on_ring_boundary(
                              float(hx[k]), float(hy[k]), sx, sy)), 0)
                if _g.points_in_rings(hx[k:k + 1], hy[k:k + 1],
                                      [sx], [sy])[0]:
                    area = abs(0.5 * float(np.sum(
                        sx * np.roll(sy, -1) - np.roll(sx, -1) * sy)))
                    if area < best_area:
                        best, best_area = s, area
            if best is not None:
                parts[best].append(pts(i))
        return Geometry(type="MultiPolygon",
                        coordinates=[parts[s] for s in shells])
    raise ValueError(f"unsupported geometry type {geom_type!r}")


def row_to_feature(row, id_col: str = "id") -> Feature:
    """Engine row (Row or mapping with the ring columns) -> Feature."""
    d = row.asDict(recursive=True) if hasattr(row, "asDict") else dict(row)
    if d.get("rings_xs") is not None:
        geometry = geometry_from_rings(
            d.get("geom_type") or "Polygon", d["rings_xs"], d["rings_ys"])
    elif d.get("xs") is not None:
        geometry = geometry_from_rings(
            d.get("geom_type") or "Polygon", [d["xs"]], [d["ys"]])
    else:
        geometry = None
    props = {k: v for k, v in d.items()
             if k not in RING_COLS and k != id_col}
    return Feature(geometry=geometry, id=d.get(id_col),
                   properties=Properties(**props))


def feature_to_row(feature, id_col: str = "id") -> dict:
    """Feature (object or dict) -> engine row dict: the id, the ring
    columns (null for a null geometry) and the flattened properties.
    ``schema.with_ring_columns`` derives the rest on the frame."""
    f = decode_object(feature)
    t, rxs, rys = (rings_from_geometry(f["geometry"])
                   if f["geometry"] is not None else (None, None, None))
    return {id_col: f["id"], "geom_type": t,
            "rings_xs": rxs, "rings_ys": rys,
            **dict(f["properties"] or {})}
