"""TopoJSON source — reference parity for the TopoJSON driver
(`fiona/drvsupport.py` lists it read-only; behavior contract in
`/root/reference/tests/test_topojson.py`: open, count features, each
with a geometry and non-empty properties).

A Topology is ONE document whose geometries share a quantized,
delta-encoded arc table, so the decode splits naturally for Spark:
the (small) arc table is decoded once on the driver and shipped to
executors via ``sc.broadcast`` (torrent), while per-feature geometry
reconstruction — arc-index resolution (``~i`` = arc i reversed),
stitching shared endpoints, ring assembly — runs distributed in one
``mapInPandas`` over the feature list.  Output schema matches the
GeoJSON sources' ring model: (object, fid, geom_type, rings_xs,
rings_ys, properties, xs, ys, xmin..ymax).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..schema import with_ring_columns
from .drivers import ring_schema

_OUT_SCHEMA = ring_schema({
    "object": T.StringType(), "fid": T.LongType(),
    "properties": T.MapType(T.StringType(), T.StringType())})


def decode_arcs(topo: dict) -> list:
    """Arc table -> absolute coordinate arrays.  With a ``transform``
    the topology is quantized: positions are per-arc running sums of
    integer deltas, scaled and translated; without one, coordinates
    are already absolute (TopoJSON spec 2.1.1/2.1.2)."""
    tr = topo.get("transform")
    out = []
    for arc in topo.get("arcs", []):
        a = np.asarray(arc, np.float64)
        if tr is not None:
            a = (np.cumsum(a, axis=0)
                 * np.asarray(tr["scale"], np.float64)
                 + np.asarray(tr["translate"], np.float64))
        out.append(a)
    return out


def _point(coords, tr):
    p = np.asarray(coords, np.float64)
    if tr is not None:
        p = (p * np.asarray(tr["scale"], np.float64)
             + np.asarray(tr["translate"], np.float64))
    return p


def _line_from_arcs(idxs, arcs) -> np.ndarray:
    """Stitch an arc-index list into one coordinate path: negative
    index ``~i`` uses arc i reversed; consecutive arcs share their
    junction vertex (dropped from the follower)."""
    pts = []
    for k, i in enumerate(idxs):
        a = arcs[i] if i >= 0 else arcs[~i][::-1]
        pts.append(a if k == 0 else a[1:])
    return np.concatenate(pts) if pts else np.empty((0, 2))


def _geom_rings(g: dict, arcs, tr):
    """One TopoJSON geometry -> (type, [ring ndarray, ...]); rings of
    Points/Lines are their coordinate paths (the engine ring model
    treats every geometry as coordinate arrays)."""
    t = g["type"]
    if t == "Point":
        return t, [_point(g["coordinates"], tr)[None, :]]
    if t == "MultiPoint":
        return t, [np.stack([_point(c, tr) for c in g["coordinates"]])]
    if t == "LineString":
        return t, [_line_from_arcs(g["arcs"], arcs)]
    if t == "MultiLineString":
        return t, [_line_from_arcs(part, arcs) for part in g["arcs"]]
    if t == "Polygon":
        return t, [_line_from_arcs(ring, arcs) for ring in g["arcs"]]
    if t == "MultiPolygon":
        return t, [_line_from_arcs(ring, arcs)
                   for part in g["arcs"] for ring in part]
    raise ValueError(f"unsupported TopoJSON geometry type {t!r}")


def _flatten_objects(topo: dict):
    """(object_name, geometry dict) rows; GeometryCollections explode
    to their members (the reference's feature iteration)."""
    for name, obj in topo.get("objects", {}).items():
        if obj.get("type") == "GeometryCollection":
            for g in obj.get("geometries", []):
                yield name, g
        else:
            yield name, obj


def read_topojson(spark, path: str) -> DataFrame:
    """Open a TopoJSON document as a feature DataFrame (the
    ``fiona.open('*.topojson')`` analogue)."""
    with open(path) as fh:
        topo = json.load(fh)
    if topo.get("type") != "Topology":
        raise ValueError(f"{path!r} is not a TopoJSON Topology document")
    tr = topo.get("transform")
    arcs_b = spark.sparkContext.broadcast(decode_arcs(topo))

    specs = [(name, fid, json.dumps(g))
             for fid, (name, g) in enumerate(_flatten_objects(topo))]
    src = spark.createDataFrame(specs, "object string, fid long, g string")

    def run(batches):
        arcs = arcs_b.value
        for pdf in batches:
            recs = []
            for r in pdf.itertuples(index=False):
                g = json.loads(r.g)
                t, rings = _geom_rings(g, arcs, tr)
                props = {k: v if isinstance(v, str) else json.dumps(v)
                         for k, v in (g.get("properties") or {}).items()}
                recs.append({
                    "object": r.object, "fid": r.fid, "geom_type": t,
                    "rings_xs": [ring[:, 0].tolist() for ring in rings],
                    "rings_ys": [ring[:, 1].tolist() for ring in rings],
                    "properties": props})
            yield pd.DataFrame(recs)

    out = src.mapInPandas(run, _OUT_SCHEMA)
    return with_ring_columns(out)
