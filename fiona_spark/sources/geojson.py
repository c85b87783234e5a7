"""GeoJSON source/sink with the reference CLI's stream semantics.

Maps Fiona's three GeoJSON shapes onto DataFrames:

  * ``fio cat``    — RS/LF-delimited feature sequence out
    (`fiona/fio/cat.py:63-139`, RS emit `:133-136`)
  * ``fio collect``— one FeatureCollection document
    (`fiona/fio/collect.py:48-245`)
  * ``fio load``   — feature stream in, schema inferred from the first
    feature (`fiona/fio/load.py:36-114`, inference `:84-97`)
  * ``fio distrib``— FeatureCollection -> feature rows, stamping
    ``parent`` metadata (`fiona/fio/distrib.py:16-35`)

A feature row carries ``id``, the ring columns (``geom_type``,
``rings_xs``/``rings_ys`` and their derivations) and one column per
property (SURVEY.md section 1.1 mapping).  Reading is Spark's native
from_json (JVM, codegen); nothing is parsed per row in Python.  The
writers encode each feature exactly from the ring model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from ..schema import RING_COLS, with_ring_columns, with_rings

RS = "\x1e"   # ASCII record separator, as in fio --rs output


def _feature_lines(df: DataFrame, id_col: str) -> DataFrame:
    """One GeoJSON feature JSON string per row, column ``value``.

    The frame enters through ``schema.with_rings`` (a frame with only
    ``xs``/``ys`` is a one-ring Polygon), and the ring model
    (``geom_type``/``rings_xs``/``rings_ys``) serializes EXACTLY —
    per-row geometry type, holes, MultiPolygon part nesting rebuilt by
    ``model.geometry_from_rings`` — via one distributed mapInArrow.
    Properties leave Arrow as Python values (``RecordBatch.to_pylist``):
    a NULL stays ``null`` and a bigint stays an exact integer.
    ``id_col`` (else ``fid``) is the feature id when the frame has it.
    """
    # only the columns a feature carries cross into Python
    df = with_rings(df).drop("xs", "ys", "xmin", "ymin", "xmax", "ymax")
    cols = list(df.columns)
    idc = id_col if id_col in cols else ("fid" if "fid" in cols else None)
    # Arrow hands a map value over as (key, value) pairs
    maps = [f.name for f in df.schema.fields
            if isinstance(f.dataType, T.MapType)]

    def encode(batches):
        import json as _json

        import pyarrow as pa

        from ..model import ObjectEncoder, geometry_from_rings
        for batch in batches:
            lines = []
            for rec in batch.to_pylist():
                for k in maps:
                    if rec[k] is not None:
                        rec[k] = dict(rec[k])
                geometry = geometry_from_rings(
                    rec.get("geom_type") or "Polygon",
                    rec.get("rings_xs"), rec.get("rings_ys"))
                props = {k: v for k, v in rec.items()
                         if k not in RING_COLS and k != idc}
                feat = {"type": "Feature",
                        "id": rec.get(idc) if idc else None,
                        "geometry": geometry, "properties": props}
                lines.append(_json.dumps(feat, cls=ObjectEncoder))
            yield pa.RecordBatch.from_pydict(
                {"value": pa.array(lines, pa.string())})

    return df.mapInArrow(encode, "value string")


def write_feature_seq(df: DataFrame, path: str, id_col: str = "id",
                      use_rs: bool = False, mode: str = "overwrite") -> None:
    """``fio cat`` sink: one GeoJSON feature per line (RS-optional).

    Distributed text write — one part file per partition, exactly like
    the reference's stream output but parallel.
    """
    line = F.col("value")
    if use_rs:
        line = F.concat(F.lit(RS), line)
    (_feature_lines(df, id_col)
     .select(line.alias("value")).write.mode(mode).text(path))


def write_collection(df: DataFrame, path: str, id_col: str = "id") -> None:
    """``fio collect`` sink: ONE FeatureCollection JSON document.

    The reference streams into a single doc on one process
    (`fio/collect.py:92-113`); the distributed analogue is coalesce(1) —
    an explicitly driver-ish operation, only sane for result sets that
    fit one file (as in the reference).
    """
    feats = _feature_lines(df, id_col).select(F.col("value").alias("j"))
    (feats.coalesce(1)
     .agg(F.concat(F.lit('{"type": "FeatureCollection", "features": ['),
                   F.concat_ws(", ", F.collect_list("j")),
                   F.lit("]}")).alias("value"))
     .write.mode("overwrite").text(path))


def read_feature_seq(spark, path: str) -> DataFrame:
    """``fio load`` source: newline/RS-delimited features -> rows.

    Schema inference from the FIRST feature (schema_of_json on one
    sampled line — exactly the reference's infer-from-first-feature,
    `fio/load.py:84-97`), then a JVM-side from_json over the cleaned
    text: no per-row Python anywhere on the read path (the r1 version
    round-tripped through raw.rdd.map, pickling every row)."""
    # RS-delimited streams may be PRETTY-PRINTED (one feature spans
    # many lines — the reference's sequence-pp.txt, RFC 8142): when the
    # stream carries RS markers, split on THEM, not on newlines.
    probe = spark.read.text(path).limit(50).collect()
    has_rs = any(RS in r["value"] for r in probe)
    if has_rs:
        raw = (spark.read.text(path, wholetext=True)
               .select(F.explode(F.split("value", RS)).alias("value"))
               .select(F.trim(F.col("value")).alias("value"))
               .filter(F.length("value") > 0))
    else:
        raw = spark.read.text(path).select(
            F.regexp_replace("value", RS, "").alias("value")).filter(
            F.length("value") > 0)
    first = raw.limit(1).collect()
    if not first:
        raise ValueError(f"no features found in {path}")
    schema = spark.range(1).select(
        F.schema_of_json(F.lit(first[0]["value"])).alias("s")
    ).collect()[0]["s"]
    js = raw.select(F.from_json("value", schema).alias("f")).select("f.*")
    return _features_to_rows(js)


def read_collection(spark, path: str) -> DataFrame:
    """Read a FeatureCollection document (``fio distrib`` equivalent:
    one row per feature)."""
    js = spark.read.option("multiLine", "true").json(path)
    if set(js.columns) == {"_corrupt_record"}:
        # an RS marker before the document (the reference's
        # collection-pp.txt) corrupts the multiLine parse: strip RS
        # from the whole text and re-parse via from_json
        clean = (spark.read.text(path, wholetext=True)
                 .select(F.regexp_replace("value", RS, "").alias("value")))
        doc = clean.limit(1).collect()[0]["value"]
        schema = spark.range(1).select(
            F.schema_of_json(F.lit(doc)).alias("s")).collect()[0]["s"]
        js = clean.select(F.from_json("value", schema).alias("d")
                          ).select("d.*")
    feats = js.select(F.explode("features").alias("f")).select("f.*")
    return _features_to_rows(feats)


def _features_to_rows(js: DataFrame) -> DataFrame:
    # The JSON-inferred type of geometry.coordinates depends on the
    # geometry kind actually present (Point: array<double>, LineString:
    # 2-deep, Polygon: 3-deep, MultiPolygon: 4-deep); a CASE across
    # depths would fail analysis, so branch on the inferred schema
    # (mirrors fio load's infer-from-first-feature, `fio/load.py:84-97`).
    coords_t = js.select(F.col("geometry.coordinates").alias("c")).schema[0].dataType
    depth = 0
    t = coords_t
    while isinstance(t, T.ArrayType):
        depth += 1
        t = t.elementType
    if depth >= 4:        # MultiPolygon: parts x rings -> flat ring list
        rx = F.expr("flatten(transform(geometry.coordinates, "
                    "part -> transform(part, ring -> transform(ring, c -> c[0]))))")
        ry = F.expr("flatten(transform(geometry.coordinates, "
                    "part -> transform(part, ring -> transform(ring, c -> c[1]))))")
    elif depth == 3:      # Polygon: shell + holes, all rings kept
        rx = F.expr("transform(geometry.coordinates, ring -> transform(ring, c -> c[0]))")
        ry = F.expr("transform(geometry.coordinates, ring -> transform(ring, c -> c[1]))")
    elif depth == 2:      # LineString / MultiPoint
        rx = F.expr("array(transform(geometry.coordinates, c -> c[0]))")
        ry = F.expr("array(transform(geometry.coordinates, c -> c[1]))")
    else:                 # Point; EMPTY (coordinates []) has no ring
        rx = F.expr("transform(slice(geometry.coordinates, 1, 1), "
                    "x -> array(CAST(x AS DOUBLE)))")
        ry = F.expr("transform(slice(geometry.coordinates, 2, 1), "
                    "y -> array(CAST(y AS DOUBLE)))")
    names = {f.name: f.dataType for f in js.schema.fields}
    sel = [F.col("id") if "id" in names
           else F.lit(None).cast("string").alias("id"),
           F.col("geometry.type").alias("geom_type"),
           rx.alias("rings_xs"), ry.alias("rings_ys")]
    # features without a properties object (reference rmnp.geojson) or
    # with null-typed properties have nothing to expand
    if isinstance(names.get("properties"), T.StructType):
        sel.append(F.col("properties.*"))
    out = js.select(*sel)
    return with_ring_columns(out)
