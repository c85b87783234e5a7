"""OGR VRT (virtual datasource) reader.

Reference row: the driver table lists "OGR_VRT" as a read-only format
(`fiona/drvsupport.py:137`).  The XML shape is the public GDAL vector
VRT spec (gdal.org "Virtual Format"):

.. code-block:: xml

    <OGRVRTDataSource>
      <OGRVRTLayer name="zones">
        <SrcDataSource relativeToVRT="1">zones.shp</SrcDataSource>
        <SrcLayer>zones</SrcLayer>
        <FID>orig_id</FID>
        <Field name="exposed" src="source_col" type="Integer"/>
        <GeometryType>wkbPolygon</GeometryType>
        <LayerSRS>EPSG:4326</LayerSRS>
        <GeometryField encoding="PointFromColumns" x="lon" y="lat"/>
      </OGRVRTLayer>
      <OGRVRTUnionLayer name="all">
        <OGRVRTLayer name="a">...</OGRVRTLayer>
        <OGRVRTLayer name="b">...</OGRVRTLayer>
      </OGRVRTUnionLayer>
      <OGRVRTWarpedLayer>
        <OGRVRTLayer name="zones">...</OGRVRTLayer>
        <SrcSRS>EPSG:4326</SrcSRS>
        <TargetSRS>EPSG:3857</TargetSRS>
      </OGRVRTWarpedLayer>
    </OGRVRTDataSource>

Spark-first mapping: each member layer resolves through the engine's
driver registry, so a VRT over .shp/.gpkg/.csv inherits that driver's
distributed geometry decode; field rename/retype is a JVM-side
select+cast (whole-stage codegen, no Python); ``PointFromColumns``
builds the ring model from pure column expressions; ``WKT`` geometry
fields reuse the CSV driver's one-pass ``mapInPandas`` decode; union
layers are ``unionByName(allowMissingColumns=True)`` — Catalyst unions
the member scans, so filter/column pushdown still reaches each member
file independently.

Scope notes (documented, loud): ``SrcSQL`` and ``SrcRegion`` are not
supported (DriverError) — the engine's ``where``/``bbox`` filters
compose over the opened DataFrame instead; ``LayerSRS``/``SRS`` are
recorded but not reprojected at read time (the transform operators
handle CRS, matching the engine-wide convention that readers emit
source coordinates).
"""

from __future__ import annotations

import os
import threading
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, functions as F

from ..errors import DriverError
from ..schema import RING_COLS, with_ring_columns

#: OGR field type -> Spark cast target (GDAL VRT <Field type=...>)
_OGR_TO_SPARK = {
    "integer": "int",
    "integer64": "bigint",
    "real": "double",
    "string": "string",
    "date": "date",
    "time": "string",
    "datetime": "timestamp",
    "binary": "binary",
    "integerlist": "array<int>",
    "integer64list": "array<bigint>",
    "reallist": "array<double>",
    "stringlist": "array<string>",
}


def _root(path: str) -> ET.Element:
    try:
        tree = ET.parse(path)
    except ET.ParseError as exc:
        raise DriverError(f"{path!r}: malformed VRT XML ({exc})") from exc
    root = tree.getroot()
    if root.tag != "OGRVRTDataSource":
        raise DriverError(
            f"{path!r}: root element is <{root.tag}>, "
            "expected <OGRVRTDataSource>")
    return root


_LAYER_TAGS = ("OGRVRTLayer", "OGRVRTUnionLayer", "OGRVRTWarpedLayer")


def _node_name(node: ET.Element, fallback: str) -> str:
    if node.get("name"):
        return node.get("name")
    if node.tag == "OGRVRTWarpedLayer":
        # GDAL: a warped layer takes its source layer's name
        for child in node:
            if child.tag in _LAYER_TAGS:
                return _node_name(child, fallback)
    return fallback


def _layer_nodes(root: ET.Element):
    """Top-level (name, node) pairs: plain, union, and warped layers."""
    out = []
    for node in root:
        if node.tag in _LAYER_TAGS:
            out.append((_node_name(node, f"layer{len(out)}"), node))
    if not out:
        raise DriverError(
            "VRT has no OGRVRTLayer/OGRVRTUnionLayer/OGRVRTWarpedLayer")
    return out


def listlayers_vrt(path: str) -> list[str]:
    return [name for name, _n in _layer_nodes(_root(path))]


def _resolve_src(vrt_path: str, node: ET.Element) -> str:
    src = node.find("SrcDataSource")
    if src is None or not (src.text or "").strip():
        raise DriverError("OGRVRTLayer missing <SrcDataSource>")
    raw = src.text.strip()
    if "://" in raw or os.path.isabs(raw):
        return raw
    vrt_rel = os.path.join(os.path.dirname(os.path.abspath(vrt_path)), raw)
    if src.get("relativeToVRT", "0") == "1":
        return vrt_rel
    # GDAL resolves relativeToVRT="0" against the process CWD; fall back
    # to VRT-relative when the CWD-relative path does not exist (the
    # spelling almost every published VRT actually intends).
    return raw if os.path.exists(raw) else vrt_rel


def _apply_geometry_field(df: DataFrame, gf: ET.Element) -> DataFrame:
    enc = (gf.get("encoding") or "Direct").lower()
    if enc == "pointfromcolumns":
        xcol, ycol = gf.get("x"), gf.get("y")
        if not xcol or not ycol:
            raise DriverError("PointFromColumns needs x= and y= columns")
        for c in (xcol, ycol):
            if c not in df.columns:
                raise DriverError(f"PointFromColumns: no column {c!r}")
        return with_ring_columns(df.withColumns({
            "geom_type": F.lit("Point"),
            "rings_xs": F.array(F.array(F.col(xcol).cast("double"))),
            "rings_ys": F.array(F.array(F.col(ycol).cast("double"))),
        }))
    if enc in ("wkt", "wkb"):
        field = gf.get("field")
        if not field or field not in df.columns:
            raise DriverError(f"{enc.upper()} geometry field {field!r} "
                              "not in source")
        from .. import wkb, wkt
        from .drivers import decode_geometry_column
        codec = wkt if enc == "wkt" else wkb
        return decode_geometry_column(df, field, codec.decode)
    if enc == "direct":
        return df
    raise DriverError(f"unsupported GeometryField encoding {enc!r}")


def _read_member(spark, vrt_path: str, node: ET.Element) -> DataFrame:
    for unsupported in ("SrcSQL", "SrcRegion"):
        if node.find(unsupported) is not None:
            raise DriverError(
                f"<{unsupported}> is not supported; open the source and "
                "compose where/bbox filters instead")
    from . import drivers

    src_path = _resolve_src(vrt_path, node)
    layer_node = node.find("SrcLayer")
    layer = layer_node.text.strip() if (
        layer_node is not None and layer_node.text) else None
    opts = {"layer": layer} if layer else {}
    if src_path.rstrip("/").lower().endswith(".vrt"):
        # nested VRT — GDAL allows it; recurse through this reader
        df = read_vrt(spark, src_path, layer=layer)
    else:
        df = drivers.open_dataset(spark, src_path, **opts)

    gf = node.find("GeometryField")
    if gf is not None:
        df = _apply_geometry_field(df, gf)

    fid = node.find("FID")
    if fid is not None and fid.text and fid.text.strip():
        fid_col = fid.text.strip()
        if fid_col not in df.columns:
            raise DriverError(f"<FID> column {fid_col!r} not in source")
        if fid_col != "fid":
            df = (df.drop("fid") if "fid" in df.columns else df) \
                .withColumnRenamed(fid_col, "fid")

    fields = node.findall("Field")
    if fields:
        # GDAL rule: any <Field> nodes make the exposed schema exactly
        # those fields (+ fid/geometry)
        cols = []
        if "fid" in df.columns:
            cols.append(F.col("fid"))
        for fnode in fields:
            name = fnode.get("name")
            if not name:
                raise DriverError("<Field> missing name=")
            src = fnode.get("src") or name
            if src not in df.columns:
                raise DriverError(f"<Field src={src!r}> not in source")
            col = F.col(src)
            ftype = fnode.get("type")
            if ftype:
                spark_t = _OGR_TO_SPARK.get(ftype.lower())
                if spark_t is None:
                    raise DriverError(f"unknown <Field type={ftype!r}>")
                col = col.cast(spark_t)
            cols.append(col.alias(name))
        cols.extend(F.col(c) for c in RING_COLS if c in df.columns)
        df = df.select(*cols)
    return df


def _read_union(spark, vrt_path: str, node: ET.Element) -> DataFrame:
    members = [m for m in node if m.tag in _LAYER_TAGS]
    if not members:
        raise DriverError("OGRVRTUnionLayer has no member layers")
    dfs = [_read_any(spark, vrt_path, m) for m in members]
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def _read_warped(spark, vrt_path: str, node: ET.Element) -> DataFrame:
    """OGRVRTWarpedLayer: reproject the source layer's ring geometry
    with the engine's distributed transform kernels — one Arrow pass
    via ``functions.geometry.reproject_rings`` (the same path as
    ``fio cat --dst-crs``)."""
    member = next((m for m in node if m.tag in _LAYER_TAGS), None)
    if member is None:
        raise DriverError("OGRVRTWarpedLayer has no source layer")
    target = (node.findtext("TargetSRS") or "").strip()
    if not target:
        raise DriverError("OGRVRTWarpedLayer needs <TargetSRS>")
    src = (node.findtext("SrcSRS") or "EPSG:4326").strip()
    df = _read_any(spark, vrt_path, member)
    if "rings_xs" not in df.columns:
        raise DriverError(
            "OGRVRTWarpedLayer source has no geometry columns")
    from ..functions.geometry import reproject_rings
    return reproject_rings(df, src, target)


def _read_any(spark, vrt_path: str, node: ET.Element) -> DataFrame:
    if node.tag == "OGRVRTUnionLayer":
        return _read_union(spark, vrt_path, node)
    if node.tag == "OGRVRTWarpedLayer":
        return _read_warped(spark, vrt_path, node)
    return _read_member(spark, vrt_path, node)


_ACTIVE_VRTS = threading.local()


def read_vrt(spark, path: str, layer: str | None = None) -> DataFrame:
    """Open a VRT layer as a ring-model DataFrame.

    ``layer`` selects by name; default is the first layer, matching the
    engine's other multi-layer readers.  Nested VRTs are followed; a
    VRT whose SrcDataSource points (directly or transitively) back at
    an ancestor raises DriverError instead of recursing forever.
    """
    seen = getattr(_ACTIVE_VRTS, "paths", None)
    if seen is None:
        seen = _ACTIVE_VRTS.paths = []
    ap = os.path.abspath(path)
    if ap in seen:
        raise DriverError(
            "circular VRT reference: " + " -> ".join([*seen, ap]))
    seen.append(ap)
    try:
        return _read_vrt_inner(spark, path, layer)
    finally:
        seen.pop()


def _read_vrt_inner(spark, path: str, layer: str | None = None) -> DataFrame:
    root = _root(path)
    layers = _layer_nodes(root)
    if layer is None:
        name, node = layers[0]
    else:
        match = [(n, nd) for n, nd in layers if n == layer]
        if not match:
            raise DriverError(
                f"no layer {layer!r} in {path!r} "
                f"(have {[n for n, _ in layers]})")
        name, node = match[0]
    return _read_any(spark, path, node)
