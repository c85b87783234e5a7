"""GeoJSON source/sink, catalog ops, and streaming reuse tests."""

import glob
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from fiona_spark import fixtures
from fiona_spark.errors import DriverError
from fiona_spark.sources import catalog, geojson

N_ZONES = 25


@pytest.fixture(scope="module")
def zones(spark):
    return spark.createDataFrame(fixtures.gen_zones_pdf(N_ZONES),
                                 schema=fixtures.ZONES_SCHEMA).cache()


# ---------------------------------------------------------------------------
# GeoJSON
# ---------------------------------------------------------------------------

def test_feature_seq_roundtrip(spark, zones, tmp_path):
    path = str(tmp_path / "seq")
    geojson.write_feature_seq(zones, path, id_col="zone_id")
    back = geojson.read_feature_seq(spark, path)
    assert back.count() == N_ZONES
    a = zones.select("zone_id", "NAME", "AREA", "xmin").toPandas() \
        .set_index("zone_id").sort_index()
    b = back.select(F.col("id").alias("zone_id"), "NAME", "AREA", "xmin") \
        .toPandas().set_index("zone_id").sort_index()
    assert list(a["NAME"]) == list(b["NAME"])
    assert np.allclose(a["AREA"], b["AREA"])
    assert np.allclose(a["xmin"], b["xmin"])


def test_feature_seq_rs_delimited(spark, zones, tmp_path):
    path = str(tmp_path / "seq_rs")
    geojson.write_feature_seq(zones, path, id_col="zone_id", use_rs=True)
    txt = ""
    for f in glob.glob(f"{path}/part-*"):
        with open(f) as fh:
            txt += fh.read()
    assert txt.count(geojson.RS) == N_ZONES
    assert txt.count('"type": "Feature"') == N_ZONES or \
        txt.count('"type":"Feature"') == N_ZONES


def test_collection_roundtrip(spark, zones, tmp_path):
    path = str(tmp_path / "coll")
    geojson.write_collection(zones, path, id_col="zone_id")
    files = glob.glob(f"{path}/part-*")
    assert len(files) == 1          # ONE FeatureCollection document
    with open(files[0]) as fh:
        doc = json.load(fh)
    assert doc["type"] == "FeatureCollection"
    assert len(doc["features"]) == N_ZONES
    back = geojson.read_collection(spark, files[0])
    assert back.count() == N_ZONES
    assert set(back.columns) >= {"id", "geom_type", "xs", "ys", "NAME"}


def test_geojson_geometry_valid(spark, zones, tmp_path):
    path = str(tmp_path / "geomcheck")
    geojson.write_feature_seq(zones.limit(3), path, id_col="zone_id")
    with open(glob.glob(f"{path}/part-*")[0]) as fh:
        feat = json.loads(fh.readline())
    ring = feat["geometry"]["coordinates"][0]
    assert all(len(pt) == 2 for pt in ring)
    assert feat["geometry"]["type"] == "Polygon"
    assert feat["properties"]["NAME"]


def test_xs_only_frame_writes_dates_and_exact_bigints(spark, tmp_path):
    # an xs/ys-only frame (the ZONES_SCHEMA shape) with a date column, a
    # bigint column holding a NULL and a value past 2^53, and a map
    import datetime
    big = 2 ** 53 + 1
    frame = spark.createDataFrame(
        [("a", [0.0, 1.0, 0.0], [0.0, 0.0, 1.0], datetime.date(2020, 1, 2),
          1, {"k": 1}),
         ("b", [2.0, 3.0, 2.0], [0.0, 0.0, 1.0], None, None, None),
         ("c", [4.0, 5.0, 4.0], [0.0, 0.0, 1.0], None, big, None)],
        "id string, xs array<double>, ys array<double>, d date, n bigint, "
        "m map<string, int>")
    path = str(tmp_path / "typed")
    geojson.write_feature_seq(frame, path)
    lines = [ln for f in sorted(glob.glob(f"{path}/part-*"))
             for ln in open(f).read().splitlines() if ln]
    def strict(line):   # a bare NaN/Infinity token is not JSON
        return json.loads(line, parse_constant=lambda c: pytest.fail(c))

    feats = {f["id"]: f for f in map(strict, lines)}
    assert {k: f["properties"] for k, f in feats.items()} == {
        "a": {"d": "2020-01-02", "n": 1, "m": {"k": 1}},
        "b": {"d": None, "n": None, "m": None},
        "c": {"d": None, "n": big, "m": None}}
    assert type(feats["a"]["properties"]["n"]) is int
    assert feats["a"]["geometry"] == {
        "type": "Polygon", "coordinates": [[[0.0, 0.0], [1.0, 0.0],
                                            [0.0, 1.0]]]}


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------

def test_listlayers_and_remove(spark, zones, tmp_path):
    ds = str(tmp_path / "dataset")
    zones.limit(5).write.parquet(f"{ds}/layer_a.parquet")
    zones.limit(7).write.parquet(f"{ds}/layer_b.parquet")
    assert catalog.listlayers(ds) == ["layer_a", "layer_b"]
    assert "layer_a.parquet" in catalog.listdir(ds)
    catalog.remove(ds, "layer_a")
    assert catalog.listlayers(ds) == ["layer_b"]
    with pytest.raises(DriverError):
        catalog.remove(ds, "layer_a")
    with pytest.raises(DriverError):
        catalog.listlayers(str(tmp_path / "nope"))


def test_tags_roundtrip(tmp_path):
    ds = str(tmp_path)
    catalog.update_tags(ds, {"created_by": "fiona_spark", "v": 1}, ns="meta")
    catalog.update_tags(ds, {"extra": "x"}, ns="meta")
    got = catalog.get_tags(ds, ns="meta")
    assert got == {"created_by": "fiona_spark", "v": "1", "extra": "x"}
    assert catalog.get_tags(ds, ns="other") == {}


def test_info_record(spark, zones, tmp_path):
    p = str(tmp_path / "t.parquet")
    zones.write.parquet(p)
    rec = catalog.info(spark, p)
    assert rec["count"] == N_ZONES
    assert rec["schema"]["NAME"] == "string"
    assert len(rec["bounds"]) == 4


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------

def test_streaming_windowed_counts(spark, tmp_path):
    from fiona_spark.streaming import windows as sw
    src = str(tmp_path / "events_stream")
    out = str(tmp_path / "out")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.write.parquet(src)
    schema = ev.schema.simpleString()[7:-1].replace(":", " ")  # struct<..> body
    stream = sw.read_feature_stream(spark, src, schema)
    agg = sw.windowed_counts(stream)
    q = (agg.writeStream.format("memory").queryName("win_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.sql("SELECT * FROM win_counts").toPandas()
    # equivalence with the batch form on the same data
    exp = (ev.withColumn("ts", F.col("ts").cast("timestamp"))
           .groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
           .count().count())
    assert len(got) == exp and (got["n"] > 0).all()


def test_streaming_foreach_batch_reuses_batch_op(spark, zones, tmp_path):
    from fiona_spark.streaming import windows as sw
    from fiona_spark.operators import spatial
    src = str(tmp_path / "imgs_stream")
    out = str(tmp_path / "tiles_out")
    pdf = fixtures.gen_images_pdf(0, 200)
    spark.createDataFrame(pdf, schema=fixtures.IMAGES_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(fixtures.IMAGES_SCHEMA).parquet(src)
    sw.run_foreach_batch(
        stream,
        lambda df, _eid: spatial.with_point_cell(df, 9).select("image_id", "cell"),
        out)
    got = spark.read.parquet(*glob.glob(f"{out}/epoch=*"))
    assert got.count() == 200
    # identical to the batch operator on the same rows
    batch = spatial.with_point_cell(
        spark.createDataFrame(pdf, schema=fixtures.IMAGES_SCHEMA), 9) \
        .select("image_id", "cell")
    assert got.exceptAll(batch).count() == 0


def test_session_window_batch_matches_eager_oracle(spark):
    """session_counts (F.session_window) vs an eager pandas
    sessionizer: same sessions, same aggregates (batch form; the
    streaming form shares the plan via the state store)."""
    import numpy as np
    import pandas as pd

    from fiona_spark.streaming import windows as sw
    rng = np.random.default_rng(8)
    base = pd.Timestamp("2024-01-01")
    rows = []
    for key in ("a", "b"):
        t = 0
        for _ in range(40):
            # whole seconds: Spark timestamps are microsecond-precision,
            # pandas Timedelta is ns — integer offsets keep both exact
            t += int(rng.exponential(200)) + 1     # mixed gaps around 300s
            rows.append({"event_type": key,
                         "ts": base + pd.Timedelta(seconds=t),
                         "value": float(rng.integers(1, 10))})
    pdf = pd.DataFrame(rows)
    df = spark.createDataFrame(pdf)
    got = (sw.session_counts(df, gap="5 minutes").toPandas()
           .sort_values(["event_type", "sess_start"]).reset_index(drop=True))

    # eager oracle: sort by ts per key, split where gap > 300s; session
    # end = last_ts + gap (session_window semantics)
    exp_rows = []
    for key, g in pdf.groupby("event_type"):
        g = g.sort_values("ts")
        cur = []
        for _, r in g.iterrows():
            if cur and (r["ts"] - cur[-1]["ts"]).total_seconds() > 300:
                exp_rows.append((key, cur))
                cur = []
            cur.append(r)
        if cur:
            exp_rows.append((key, cur))
    exp = pd.DataFrame([{
        "event_type": k,
        "sess_start": c[0]["ts"],
        "sess_end": c[-1]["ts"] + pd.Timedelta(seconds=300),
        "n": len(c), "vsum": sum(r["value"] for r in c)}
        for k, c in exp_rows]).sort_values(
            ["event_type", "sess_start"]).reset_index(drop=True)
    assert len(got) == len(exp)
    assert (got["n"].values == exp["n"].values).all()
    assert np.allclose(got["vsum"].values, exp["vsum"].values)
    assert (pd.to_datetime(got["sess_start"]).values
            == exp["sess_start"].values).all()
    assert (pd.to_datetime(got["sess_end"]).values
            == exp["sess_end"].values).all()


# ---------------------------------------------------------------------------
# driver metadata introspection (fiona/meta.py analogue, r4)
# ---------------------------------------------------------------------------

def test_driver_meta_options_and_extensions():
    from fiona_spark.errors import DriverError
    from fiona_spark.sources import drivers, meta

    # every registered driver answers every introspection call
    for drv in drivers.supported_drivers():
        md = meta.driver_metadata(drv)
        assert md["modes"] == drivers.supported_drivers()[drv]
        assert isinstance(md["open_options"], dict)
        assert isinstance(md["creation_options"], dict)
        assert meta.supports_vsi(drv) is True
        txt = meta.print_driver_options(drv)
        assert "Dataset open options:" in txt
    # extension inference parity with driver_from_extension
    for drv in drivers.supported_drivers():
        for ext in meta.extensions(drv):
            assert drivers.driver_from_extension(f"x.{ext}") == drv
    assert meta.extension("parquet") in ("parquet", "pq")
    # layer == dataset creation options (single-layer datasets)
    assert meta.layer_creation_options("csv") == \
        meta.dataset_creation_options("csv")
    import pytest as _pytest
    with _pytest.raises(DriverError):
        meta.dataset_open_options("netcdf")


def test_driver_meta_field_types_parse():
    """Capability strings use the schema type vocabulary, so each one
    parses with schema.parse_field_type (check_mode-style gating)."""
    from fiona_spark import schema
    from fiona_spark.sources import drivers, meta

    for drv in drivers.supported_drivers():
        for t in meta.supported_field_types(drv):
            base, _w, _p = schema.parse_field_type(t)
            assert base == t
    # csv cannot carry nested/binary; parquet can
    assert "bytes" not in meta.supported_field_types("csv")
    assert "bytes" in meta.supported_field_types("parquet")
    assert "List[str]" in meta.supported_field_types("json")


def test_info_includes_driver_record(spark, zones, tmp_path):
    p = str(tmp_path / "t2.parquet")
    zones.write.parquet(p)
    rec = catalog.info(spark, p)
    assert rec["driver"]["driver"] == "parquet"
    assert "compression" in rec["driver"]["creation_options"]


def test_streaming_pip_and_knn_two_epoch_parity(spark, zones, tmp_path):
    """Flagship spatial operators in STREAMING mode (r3 verdict next
    #10): two file-drop epochs through stream_spatial_join; the
    checkpointed restart processes exactly the unseen epoch, and the
    union of per-epoch outputs equals the batch operator over the full
    input — for BOTH pip_join and knn_join."""
    from fiona_spark.operators import spatial
    from fiona_spark.streaming import windows as sw

    src = str(tmp_path / "imgs2")
    os.makedirs(src)
    pdf1 = fixtures.gen_images_pdf(0, 150)
    pdf2 = fixtures.gen_images_pdf(150, 150)
    df1 = spark.createDataFrame(pdf1, schema=fixtures.IMAGES_SCHEMA)
    df2 = spark.createDataFrame(pdf2, schema=fixtures.IMAGES_SCHEMA)
    full = df1.unionByName(df2)

    for op, batch_fn in (
            ("pip", lambda d: spatial.pip_join(d, zones, res=6)),
            ("knn", lambda d: spatial.knn_join(d, zones, k=3))):
        out = str(tmp_path / f"{op}_out")
        stream = lambda: spark.readStream.schema(  # noqa: E731
            fixtures.IMAGES_SCHEMA).parquet(src + "_" + op)
        epoch_src = src + "_" + op
        os.makedirs(epoch_src, exist_ok=True)
        df1.write.mode("append").parquet(epoch_src)
        sw.stream_spatial_join(stream(), zones, out, op=op, res=6, k=3)
        n_epoch1 = len(glob.glob(f"{out}/epoch=*"))
        df2.write.mode("append").parquet(epoch_src)
        sw.stream_spatial_join(stream(), zones, out, op=op, res=6, k=3)
        spark.catalog.clearCache()
        assert len(glob.glob(f"{out}/epoch=*")) > n_epoch1   # 2nd epoch ran
        got = spark.read.parquet(*glob.glob(f"{out}/epoch=*"))
        want = batch_fn(full)
        assert got.count() == want.count()
        assert got.exceptAll(want.select(*got.columns)).count() == 0, op
        spark.catalog.clearCache()


def test_orc_driver_roundtrip(spark, zones, tmp_path):
    """ORC joins the registry (Spark-native columnar format): write ->
    extension inference -> read round-trip, with meta introspection."""
    from fiona_spark.sources import drivers, meta
    p = str(tmp_path / "z.orc")
    flat = zones.select("zone_id", "NAME")
    drivers.write_dataset(flat, p)
    assert drivers.driver_from_extension(p) == "orc"
    back = drivers.open_dataset(spark, p)
    assert back.count() == N_ZONES
    assert sorted(back.columns) == ["NAME", "zone_id"]
    drivers.write_dataset(flat, p, mode="a")          # 'raw' gates append
    assert drivers.open_dataset(spark, p).count() == 2 * N_ZONES
    assert "compression" in meta.dataset_creation_options("orc")
    assert "bytes" in meta.supported_field_types("orc")


def test_env_and_insp(spark, zones, tmp_path):
    """fio env / fio insp analogues: format listing in the reference's
    text shape, environment record, non-interactive inspector."""
    from fiona_spark import env as fenv
    listing = fenv.format_listing()
    assert "geojson (modes 'r', 'w')" in listing
    assert "parquet (modes 'r', 'a', 'w')" in listing
    rec = fenv.env_info(spark)
    assert rec["formats"]["orc"] == "raw"
    assert rec["spark"]["version"].startswith("4.")
    assert "credentials" not in rec
    p = str(tmp_path / "zi.parquet")
    zones.write.parquet(p)
    got = fenv.insp(spark, p, n=3)
    assert got["count"] == N_ZONES and len(got["head"]) == 3
    assert got["driver"]["driver"] == "parquet"


def test_topojson_source(spark, tmp_path):
    """TopoJSON read parity (reference contract,
    tests/test_topojson.py: right feature count, every feature has a
    geometry and non-empty properties) plus exact arc semantics:
    negative index = reversed arc, shared junction vertices dropped."""
    import json

    from fiona_spark.sources import drivers, topojson
    doc = {
        "type": "Topology",
        "objects": {"example": {"type": "GeometryCollection",
                    "geometries": [
                        {"type": "Point", "properties": {"prop0": "value0"},
                         "coordinates": [102, 0.5]},
                        {"type": "LineString",
                         "properties": {"prop0": "value0", "prop1": 0},
                         "arcs": [0]},
                        {"type": "Polygon",
                         "properties": {"prop0": "value0",
                                        "prop1": {"this": "that"}},
                         "arcs": [[-2]]}]}},
        "arcs": [[[102, 0], [103, 1], [104, 0], [105, 1]],
                 [[100, 0], [101, 0], [101, 1], [100, 1], [100, 0]]]}
    p = str(tmp_path / "ex.topojson")
    with open(p, "w") as fh:
        json.dump(doc, fh)
    feats = drivers.open_dataset(spark, p).orderBy("fid").collect()
    assert len(feats) == 3
    for f in feats:
        assert f["geom_type"] in {"Point", "LineString", "Polygon"}
        assert len(f["properties"]) > 0
    assert feats[0]["xs"] == [102.0] and feats[0]["ys"] == [0.5]
    assert feats[1]["xs"] == [102.0, 103.0, 104.0, 105.0]
    # arcs [[-2]]: arc 1 REVERSED
    assert feats[2]["xs"] == [100.0, 100.0, 101.0, 101.0, 100.0]
    # read-only gating like the reference driver table
    import pytest as _pytest

    from fiona_spark.errors import DriverError
    with _pytest.raises(DriverError):
        drivers.check_mode("topojson", "w")


def test_topojson_quantized_and_stitched(spark, tmp_path):
    """Quantized topology: delta-decoded arcs under scale/translate;
    a two-arc LineString drops the duplicated junction vertex."""
    import json

    from fiona_spark.sources import topojson
    doc = {
        "type": "Topology",
        "transform": {"scale": [0.5, 2.0], "translate": [10.0, -1.0]},
        "objects": {"o": {"type": "GeometryCollection", "geometries": [
            {"type": "LineString", "properties": {"n": 1},
             "arcs": [0, 1]},
            {"type": "Point", "properties": {"n": 2},
             "coordinates": [4, 3]}]}},
        # arc 0 decodes to (10,-1),(11,1),(11,3); arc 1 starts at the
        # junction (11,3) -> (12,3)
        "arcs": [[[0, 0], [2, 1], [0, 1]], [[2, 2], [2, 0]]]}
    p = str(tmp_path / "q.topojson")
    with open(p, "w") as fh:
        json.dump(doc, fh)
    feats = topojson.read_topojson(spark, p).orderBy("fid").collect()
    assert feats[0]["xs"] == [10.0, 11.0, 11.0, 12.0]
    assert feats[0]["ys"] == [-1.0, 1.0, 3.0, 3.0]
    # point coords are scaled/translated but NOT delta-decoded
    assert feats[1]["xs"] == [12.0] and feats[1]["ys"] == [5.0]
    assert feats[0]["xmin"] == 10.0 and feats[0]["ymax"] == 3.0


def _make_gpkg(path, features):
    """Spec-shaped GeoPackage fixture via stdlib sqlite3 + the engine's
    own WKB encoder (wkb codec itself is differential-tested)."""
    import sqlite3

    from fiona_spark import wkb
    from fiona_spark.sources.geopackage import build_gpkg_blob
    con = sqlite3.connect(path)
    con.execute("""CREATE TABLE gpkg_contents (
        table_name TEXT PRIMARY KEY, data_type TEXT, identifier TEXT,
        srs_id INTEGER)""")
    con.execute("""CREATE TABLE gpkg_geometry_columns (
        table_name TEXT, column_name TEXT, geometry_type_name TEXT,
        srs_id INTEGER, z TINYINT, m TINYINT)""")
    con.execute("""CREATE TABLE pts (fid INTEGER PRIMARY KEY,
        geom BLOB, name TEXT, v REAL)""")
    con.execute("INSERT INTO gpkg_contents VALUES "
                "('pts', 'features', 'pts', 4326)")
    con.execute("INSERT INTO gpkg_geometry_columns VALUES "
                "('pts', 'geom', 'GEOMETRY', 4326, 0, 0)")
    for fid, g, name, v in features:
        blob = build_gpkg_blob(wkb.encode(g) if g else None)
        con.execute("INSERT INTO pts VALUES (?, ?, ?, ?)",
                    (fid, blob, name, v))
    con.commit(); con.close()


def test_geopackage_source(spark, tmp_path):
    """GeoPackage read: layer listing from gpkg_contents, GP-header
    blob parse (envelope variants, empty flag), WKB decode to the ring
    model, attributes preserved."""
    from fiona_spark.sources import drivers, geopackage
    p = str(tmp_path / "t.gpkg")
    feats = [
        (1, {"type": "Point", "coordinates": [10.0, 20.0]}, "a", 1.5),
        (2, {"type": "Polygon", "coordinates":
             [[[0., 0.], [4., 0.], [4., 4.], [0., 4.], [0., 0.]]]},
         "b", -2.0),
        (3, None, "c", 0.0),                      # empty geometry
    ]
    _make_gpkg(p, feats)
    assert geopackage.listlayers_gpkg(p) == ["pts"]
    assert drivers.driver_from_extension(p) == "geopackage"
    df = drivers.open_dataset(spark, p).orderBy("fid")
    rows = df.collect()
    assert [r["fid"] for r in rows] == [1, 2, 3]
    assert rows[0]["geom_type"] == "Point"
    assert rows[0]["xs"] == [10.0] and rows[0]["ys"] == [20.0]
    assert rows[1]["geom_type"] == "Polygon"
    assert rows[1]["xmin"] == 0.0 and rows[1]["xmax"] == 4.0
    assert rows[2]["geom_type"] is None
    assert [r["name"] for r in rows] == ["a", "b", "c"]
    assert rows[1]["v"] == -2.0
    # envelope-carrying blob parses identically
    from fiona_spark import wkb as _wkb
    from fiona_spark.sources.geopackage import (build_gpkg_blob,
                                                parse_gpkg_blob)
    g = {"type": "Point", "coordinates": [1.0, 2.0]}
    blob = build_gpkg_blob(_wkb.encode(g), envelope=(1.0, 1.0, 2.0, 2.0))
    wkb_bytes, srs = parse_gpkg_blob(blob)
    assert _wkb.decode(wkb_bytes) == g and srs == 4326


def test_geopackage_write_roundtrip(spark, zones, tmp_path):
    """Full rw parity: ring-model DataFrame -> .gpkg -> read back,
    geometry and properties identical; append mode grows the layer."""
    from fiona_spark.sources import drivers
    p = str(tmp_path / "rt.gpkg")
    src = zones.select("zone_id", "xs", "ys", "NAME")
    drivers.write_dataset(src, p, layer="zones")
    back = drivers.open_dataset(spark, p).orderBy("fid")
    assert back.count() == N_ZONES
    r0 = back.collect()[0]
    z0 = src.orderBy("zone_id").collect()[0]
    assert r0["xs"] == list(z0["xs"]) and r0["ys"] == list(z0["ys"])
    assert r0["NAME"] == z0["NAME"] and r0["zone_id"] == z0["zone_id"]
    assert r0["geom_type"] == "Polygon"
    drivers.write_dataset(src, p, mode="a", layer="zones")
    assert drivers.open_dataset(spark, p).count() == 2 * N_ZONES


def test_shapefile_roundtrip(spark, zones, tmp_path):
    """ESRI Shapefile r/w on the public binary format (no GDAL): ring
    geometry, N/C/L/D attribute types, .shx index, and the dbf
    encoding fallback all round-trip."""
    import datetime

    from pyspark.sql import functions as F

    from fiona_spark.sources import drivers
    p = str(tmp_path / "z.shp")
    src = (zones.select("zone_id", "xs", "ys", "NAME", "WILDRNP020")
           .withColumn("score", F.col("WILDRNP020") * 1.5)
           .withColumn("flag", F.col("WILDRNP020") % 2 == 0)
           .withColumn("d", F.lit(datetime.date(2021, 3, 4))))
    drivers.write_dataset(src, p)
    assert drivers.driver_from_extension(p) == "shapefile"
    back = drivers.open_dataset(spark, p).orderBy("fid")
    assert back.count() == N_ZONES
    r0 = back.collect()[0]
    z0 = src.orderBy("zone_id").collect()[0]
    # polygon rings close explicitly on disk and may be re-wound to the
    # ESRI convention (shells CW) — accept either orientation of the
    # closed ring; coordinates stay bit-exact doubles
    closed = list(zip(z0["xs"] + [z0["xs"][0]], z0["ys"] + [z0["ys"][0]]))
    got = list(zip(r0["xs"], r0["ys"]))
    assert got in (closed, closed[::-1])
    assert r0["xs"][0] == r0["xs"][-1]
    assert r0["geom_type"] == "Polygon"
    assert r0["NAME"] == z0["NAME"]
    assert r0["zone_id"] == z0["zone_id"]
    assert abs(r0["score"] - z0["score"]) < 1e-6
    assert bool(r0["flag"]) == z0["flag"]
    assert str(r0["d"]) == "2021-03-04"
    # .shx written and consistent
    import os as _os
    assert _os.path.getsize(p.replace(".shp", ".shx")) == 100 + 8 * N_ZONES


def test_shapefile_point_and_null(spark, tmp_path):
    from fiona_spark.sources import shapefile
    df = spark.createDataFrame(
        [("Point", [[7.0]], [[8.0]], "a"),
         (None, None, None, "b")],
        "geom_type string, rings_xs array<array<double>>, "
        "rings_ys array<array<double>>, name string")
    p = str(tmp_path / "pts.shp")
    shapefile.write_shapefile(df, p)
    back = shapefile.read_shapefile(spark, p).orderBy("fid").collect()
    assert back[0]["geom_type"] == "Point"
    assert back[0]["xs"] == [7.0] and back[0]["ys"] == [8.0]
    assert back[1]["geom_type"] is None
    assert [r["name"] for r in back] == ["a", "b"]


REF_SHP = "/root/reference/tests/data/coutwildrnp.shp"


@pytest.mark.skipif(not os.path.exists(REF_SHP),
                    reason="reference test data not present")
def test_shapefile_reads_reference_fixture(spark):
    """The pure-numpy reader opens the REFERENCE'S OWN canonical test
    shapefile and reproduces its documented expectations
    (tests/test_collection.py:203-207 bounds, 67 features, the schema
    fields, first record)."""
    from pyspark.sql import functions as F

    from fiona_spark.sources import shapefile
    df = shapefile.read_shapefile(spark, REF_SHP)
    assert df.count() == 67
    b = df.agg(F.min("xmin"), F.min("ymin"),
               F.max("xmax"), F.max("ymax")).first()
    assert b[0] == pytest.approx(-113.564247)
    assert b[1] == pytest.approx(37.068981)
    assert b[2] == pytest.approx(-104.970871)
    assert b[3] == pytest.approx(41.996277)
    assert {"PERIMETER", "FEATURE2", "NAME", "FEATURE1", "URL", "AGBUR",
            "AREA", "STATE_FIPS", "WILDRNP020", "STATE"} <= set(df.columns)
    r0 = df.orderBy("fid").first()
    assert r0["NAME"] == "Mount Naomi Wilderness"
    assert r0["STATE"] == "UT" and r0["geom_type"] == "Polygon"
    # engine operators run directly on the reference's data: the bbox
    # filter + where filter compose exactly like the reference's
    # Collection.filter
    n_ut = df.filter(F.col("STATE") == "UT").count()
    assert 0 < n_ut < 67
    from fiona_spark.operators import filters
    sub = filters.filter_bbox(df, (-113.0, 37.0, -109.0, 41.0))
    assert 0 < sub.count() <= 67


REF_TOPO = "/root/reference/tests/data/example.topojson"


@pytest.mark.skipif(not os.path.exists(REF_TOPO),
                    reason="reference test data not present")
def test_topojson_reads_reference_fixture(spark):
    """The reference's own example.topojson under its own test contract
    (tests/test_topojson.py: 3 features, each with a geometry among
    Point/LineString/Polygon and non-empty properties)."""
    from fiona_spark.sources import topojson
    feats = topojson.read_topojson(spark, REF_TOPO).collect()
    assert len(feats) == 3, "unexpected number of features"
    for f in feats:
        assert len(f["properties"]) > 0
        assert f["geom_type"] in {"Point", "LineString", "Polygon"}


@pytest.mark.skipif(
    not os.path.exists("/root/reference/tests/data/rmnp.geojson"),
    reason="reference test data not present")
def test_geojson_reads_reference_fixtures(spark):
    """The reference's own GeoJSON fixtures through the engine reader:
    rmnp (MultiPolygon, NO properties object — the r4 hardening),
    grenada (one feature), issue627 (three features)."""
    from fiona_spark.sources import geojson
    base = "/root/reference/tests/data"
    rmnp = geojson.read_collection(spark, f"{base}/rmnp.geojson")
    assert rmnp.count() == 1
    r = rmnp.first()
    assert r["geom_type"] == "MultiPolygon" and len(r["rings_xs"]) >= 1
    assert geojson.read_collection(
        spark, f"{base}/grenada.geojson").count() == 1
    assert geojson.read_collection(
        spark, f"{base}/issue627.geojson").count() == 3


REF_GRE = "/root/reference/tests/data/gre.shp"


@pytest.mark.skipif(not os.path.exists(REF_GRE),
                    reason="reference test data not present")
def test_shapefile_reads_gre_unicode_and_cpg(spark, tmp_path):
    """The reference's gre.shp: UTF-8 dbf via the .cpg sidecar
    (Cyrillic/Tamil names decode), hyphenated field names survive; a
    CP1252 .cpg mis-declares the charset exactly like the reference's
    encoding test expects (tests/test_encoding.py:15-25)."""
    import shutil
    from glob import glob

    from fiona_spark.sources import shapefile
    r = shapefile.read_shapefile(spark, REF_GRE).first()
    assert r["name"] == "Grenada" and r["name_ru"] == "Гренада"
    assert r["ISO3166-1"] == "GD"
    # copy with a CP1252 .cpg: the Cyrillic bytes mojibake (decode
    # differently), proving the sidecar is honored
    for f in glob(REF_GRE.replace(".shp", ".*")):
        shutil.copy(f, tmp_path)
    (tmp_path / "gre.cpg").write_text("CP1252")
    r2 = shapefile.read_shapefile(
        spark, str(tmp_path / "gre.shp")).first()
    assert r2["name"] == "Grenada" and r2["name_ru"] != "Гренада"


REF_ZIP = "/root/reference/tests/data/coutwildrnp.zip"


@pytest.mark.skipif(not os.path.exists(REF_ZIP),
                    reason="reference test data not present")
def test_zipmemoryfile_opens_reference_zip_shapefile(spark):
    """The reference's zip:// shapefile case (fiona/io.py:96-128 +
    tests/test_vfs.py): the zipped coutwildrnp opens through
    ZipMemoryFile with sidecar members extracted, attributes intact."""
    from fiona_spark import io as fio
    with open(REF_ZIP, "rb") as fh:
        data = fh.read()
    with fio.ZipMemoryFile(data) as z:
        df = z.open(spark, "coutwildrnp.shp")
        assert df.count() == 67
        assert df.orderBy("fid").first()["NAME"] == "Mount Naomi Wilderness"


@pytest.mark.skipif(
    not os.path.exists("/root/reference/tests/data/sequence-pp.txt"),
    reason="reference test data not present")
def test_geojson_reads_reference_text_streams(spark):
    """All four reference CLI text fixtures parse: plain and
    PRETTY-PRINTED sequences (RS split, RFC 8142) and collections
    (RS-prefixed doc re-parse) — 2 features each."""
    from fiona_spark.sources import geojson
    base = "/root/reference/tests/data"
    assert geojson.read_feature_seq(
        spark, f"{base}/sequence.txt").count() == 2
    pp = geojson.read_feature_seq(spark, f"{base}/sequence-pp.txt")
    assert pp.count() == 2
    assert pp.first()["geom_type"] == "Polygon"
    assert geojson.read_collection(
        spark, f"{base}/collection.txt").count() == 2
    assert geojson.read_collection(
        spark, f"{base}/collection-pp.txt").count() == 2


REF_GML = "/root/reference/tests/data/multicurve.gml"


@pytest.mark.skipif(not os.path.exists(REF_GML),
                    reason="reference test data not present")
def test_gml_reads_reference_multicurve(spark):
    """The reference's multicurve.gml under its own test contract
    (tests/test_curve_geometries.py::test_multicurve_conversion:
    1 feature, MultiLineString, curves linearized) — and the densified
    vertices match decoding the SAME curve from the feature's WKT
    column through the engine WKT codec."""
    from fiona_spark import wkt
    from fiona_spark.sources import drivers
    df = drivers.open_dataset(spark, REF_GML)
    assert df.count() == 1
    r = df.first()
    assert r["geom_type"] == "MultiLineString"
    n_verts = sum(len(x) for x in r["rings_xs"])
    g = wkt.decode(r["WKT"])
    assert n_verts == sum(len(p) for p in g["coordinates"])
    assert r["rings_xs"][0] == [p[0] for p in g["coordinates"][0]]


REF_GPX = "/root/reference/tests/data/test_gpx.gpx"


@pytest.mark.skipif(not os.path.exists(REF_GPX),
                    reason="reference test data not present")
def test_gpx_reads_reference_track(spark):
    """The reference's GPX fixture: the tracks layer yields one
    MultiLineString; track_points flattens the same vertices with
    ele/time; waypoint-less files raise loudly on that layer."""
    from fiona_spark.errors import DriverError
    from fiona_spark.sources import gpx
    trk = gpx.read_gpx(spark, REF_GPX, "tracks")
    assert trk.count() == 1
    r = trk.first()
    assert r["geom_type"] == "MultiLineString"
    n_verts = sum(len(x) for x in r["rings_xs"])
    pts = gpx.read_gpx(spark, REF_GPX, "track_points")
    assert pts.count() == n_verts
    p0 = pts.orderBy("fid").first()
    assert p0["ele"] == 11.0 and p0["time"].startswith("2014-06-11")
    import pytest as _pytest
    with _pytest.raises(DriverError):
        gpx.read_gpx(spark, REF_GPX, "waypoints")


def test_shapefile_random_roundtrip_fuzz(spark, tmp_path):
    """30 random multi-ring polygons + line features through
    write_shapefile -> read_shapefile: coordinates bit-exact (both
    directions are straight <f8 copies), attributes preserved."""
    rng = np.random.default_rng(77)
    rows = []
    for i in range(30):
        if i % 3 == 2:
            n = int(rng.integers(2, 6))
            rxs = [[float(v) for v in rng.uniform(-180, 180, n)]]
            rys = [[float(v) for v in rng.uniform(-90, 90, n)]]
            t = "MultiLineString"
        else:
            rings = int(rng.integers(1, 3))
            rxs, rys = [], []
            for _ in range(rings):
                n = int(rng.integers(3, 7))
                xs = [float(v) for v in rng.uniform(-180, 180, n)]
                ys = [float(v) for v in rng.uniform(-90, 90, n)]
                rxs.append(xs + [xs[0]])
                rys.append(ys + [ys[0]])
            t = "Polygon"
        rows.append((t, rxs, rys, f"feat{i}", float(i) * 0.5))
    df = spark.createDataFrame(
        rows, "geom_type string, rings_xs array<array<double>>, "
              "rings_ys array<array<double>>, name string, v double")
    from fiona_spark.sources import shapefile
    p = str(tmp_path / "fuzz.shp")
    shapefile.write_shapefile(df, p)
    back = shapefile.read_shapefile(spark, p).orderBy("fid").collect()
    src = df.collect()
    assert len(back) == 30
    for r, s_ in zip(back, src):
        assert r["geom_type"] == s_["geom_type"]
        assert r["name"] == s_["name"] and abs(r["v"] - s_["v"]) < 1e-6
        assert len(r["rings_xs"]) == len(s_["rings_xs"])
        for gx, gy, wx, wy in zip(r["rings_xs"], r["rings_ys"],
                                  s_["rings_xs"], s_["rings_ys"]):
            got = list(zip(gx, gy))
            want = list(zip(wx, wy))
            # ESRI re-winding may reverse a ring; doubles stay bit-exact
            assert got in (want, want[::-1])


def test_shapefile_z_variants_parse_then_drop():
    """PointZ/PolyLineZ/PolygonZ records (shape types 11/13/15): XY
    parses, trailing Z/M payloads drop — the WKB codec's convention."""
    import struct

    from fiona_spark.sources.shapefile import _decode_record
    # PointZ: type, x, y, z, m
    body = struct.pack("<i4d", 11, 3.0, 4.0, 9.0, 1.0)
    t, rxs, rys = _decode_record(body)
    assert t == "Point" and rxs == [[3.0]] and rys == [[4.0]]
    # PolygonZ: bbox, 1 part, 4 points, parts[], xy[], z-range+z[]
    pts = [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 0.0)]
    body = (struct.pack("<i4d2i i", 15, 0.0, 0.0, 2.0, 2.0, 1, 4, 0)
            + b"".join(struct.pack("<2d", *p) for p in pts)
            + struct.pack("<2d", 0.0, 9.0)      # z range
            + struct.pack("<4d", 1.0, 2.0, 3.0, 4.0))  # z values
    t, rxs, rys = _decode_record(body)
    assert t == "Polygon"
    assert rxs == [[0.0, 2.0, 2.0, 0.0]] and rys == [[0.0, 0.0, 2.0, 0.0]]


@pytest.mark.skipif(
    not os.path.exists("/root/reference/tests/data/sequence.txt"),
    reason="reference test data not present")
def test_fio_filter_calc_on_reference_sequence(spark):
    """The reference's fio filter/calc test expectations replayed on
    its own sequence fixture through the engine operators
    (tests/test_fio_filter.py::test_seq thresholds: AREA>0.01 -> 2,
    >0.015 -> 1, >0.02 -> 0; tests/test_fio_calc.py ratio column)."""
    from fiona_spark.operators import filters
    from fiona_spark.sources import geojson
    df = geojson.read_feature_seq(
        spark, "/root/reference/tests/data/sequence.txt")
    assert filters.filter_pyexpr(
        df, "f.properties.AREA > 0.01").count() == 2
    assert filters.filter_pyexpr(
        df, "f.properties.AREA > 0.015").count() == 1
    assert filters.filter_pyexpr(
        df, "f.properties.AREA > 0.02").count() == 0
    out = filters.calc(df, "ratio", "AREA / PERIMETER").collect()
    for r in out:
        assert r["ratio"] == pytest.approx(r["AREA"] / r["PERIMETER"])
    with pytest.raises(ValueError, match="overwrite"):
        filters.calc(df, "AREA", "AREA * 2")
    doubled = filters.calc(df, "AREA", "AREA * 2", overwrite=True)
    assert doubled.agg({"AREA": "sum"}).first()[0] == pytest.approx(
        2 * df.agg({"AREA": "sum"}).first()[0])


def test_remove_shapefile_drops_sidecars(spark, zones, tmp_path):
    """fiona.remove on a .shp deletes the whole dataset (sidecars
    included), like the reference's OGR datasource delete."""
    from fiona_spark.sources import catalog, drivers
    p = str(tmp_path / "rm.shp")
    drivers.write_dataset(zones.select("zone_id", "xs", "ys", "NAME"), p)
    assert os.path.exists(p.replace(".shp", ".dbf"))
    catalog.remove(p)
    for ext in (".shp", ".shx", ".dbf"):
        assert not os.path.exists(p.replace(".shp", ext))


@pytest.mark.skipif(not os.path.exists(REF_SHP),
                    reason="reference test data not present")
def test_info_works_on_any_driver(spark):
    """fio info over a non-parquet dataset: the reference shapefile's
    record carries its count, schema, driver block and bounds."""
    from fiona_spark.sources import catalog
    rec = catalog.info(spark, REF_SHP)
    assert rec["count"] == 67
    assert rec["driver"]["driver"] == "shapefile"
    assert rec["bounds"][0] == pytest.approx(-113.564247)


def test_kml_source(spark, tmp_path):
    """KML Placemarks: Document/Folder nesting, name/ExtendedData
    properties, Point/Polygon/MultiGeometry coordinate tuples."""
    kml_doc = """<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
  <Folder><name>f1</name>
    <Placemark><name>pt</name>
      <ExtendedData><Data name="score"><value>7</value></Data>
      </ExtendedData>
      <Point><coordinates>-71.1,42.3,15.0</coordinates></Point>
    </Placemark>
    <Placemark><name>poly</name>
      <Polygon><outerBoundaryIs><LinearRing>
        <coordinates>0,0 4,0 4,4 0,4 0,0</coordinates>
      </LinearRing></outerBoundaryIs><innerBoundaryIs><LinearRing>
        <coordinates>1,1 2,1 2,2 1,2 1,1</coordinates>
      </LinearRing></innerBoundaryIs></Polygon>
    </Placemark>
  </Folder>
  <Placemark><name>multi</name>
    <MultiGeometry>
      <Point><coordinates>1,2</coordinates></Point>
      <Point><coordinates>3,4</coordinates></Point>
    </MultiGeometry>
  </Placemark>
</Document></kml>"""
    p = str(tmp_path / "t.kml")
    with open(p, "w") as fh:
        fh.write(kml_doc)
    from fiona_spark.sources import drivers
    assert drivers.driver_from_extension(p) == "kml"
    rows = drivers.open_dataset(spark, p).orderBy("fid").collect()
    assert len(rows) == 3
    assert rows[0]["geom_type"] == "Point"
    assert rows[0]["xs"] == [-71.1] and rows[0]["ys"] == [42.3]
    assert rows[0]["score"] == "7" and rows[0]["name"] == "pt"
    assert rows[1]["geom_type"] == "Polygon"
    assert len(rows[1]["rings_xs"]) == 2          # hole kept
    assert rows[1]["xmin"] == 0.0 and rows[1]["xmax"] == 4.0
    assert rows[2]["geom_type"] == "MultiPoint"
    assert rows[2]["xs"] == [1.0, 3.0]


def test_listlayers_multilayer_formats(spark, zones, tmp_path):
    """fiona.listlayers on .gpkg returns its feature tables; on .gpx
    the GDAL driver's five layers."""
    from fiona_spark.sources import catalog, drivers
    p = str(tmp_path / "ll.gpkg")
    drivers.write_dataset(zones.select("zone_id", "xs", "ys"), p,
                          layer="zones")
    assert catalog.listlayers(p) == ["zones"]
    if os.path.exists(REF_GPX):
        assert "track_points" in catalog.listlayers(REF_GPX)


# ---------------------------------------------------------------------------
# r5: GML/GPX/KML writers + shapefile append (reference registers all
# three XML formats "rw" and shapefile "raw" — drvsupport.py:53,69,76)
# ---------------------------------------------------------------------------

_MIXED_SCHEMA = ("fid long, geom_type string, "
                 "rings_xs array<array<double>>, "
                 "rings_ys array<array<double>>, name string, v string")


def _mixed_geoms(spark):
    rows = [
        (0, "Point", [[1.5]], [[2.5]], "pt", "10"),
        (1, "LineString", [[0.0, 3.25, 7.125]], [[0.0, 1.0, -2.0]],
         "ln", "11"),
        (2, "MultiLineString", [[0.0, 1.0], [5.0, 6.0, 7.0]],
         [[0.5, 1.5], [5.5, 6.5, 7.5]], "mls", None),
        (3, "Polygon",
         [[0.0, 10.0, 10.0, 0.0, 0.0], [2.0, 5.0, 5.0, 2.0, 2.0]],
         [[0.0, 0.0, 10.0, 10.0, 0.0], [2.0, 2.0, 5.0, 5.0, 2.0]],
         "poly&hole", "13"),
        (4, "MultiPolygon",
         [[20.0, 24.0, 24.0, 20.0, 20.0], [30.0, 34.0, 34.0, 30.0, 30.0]],
         [[0.0, 0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 4.0, 4.0, 0.0]],
         "mp", "14"),
        (5, "MultiPoint", [[40.0, 41.0, 42.0]], [[1.0, 2.0, 3.0]],
         "mpt", "15"),
    ]
    return spark.createDataFrame(rows, _MIXED_SCHEMA)


def _assert_geoms_roundtrip(back_rows, src_rows):
    by_name = {r["name"]: r for r in back_rows}
    for s in src_rows:
        r = by_name[s["name"]]
        assert r["geom_type"] == s["geom_type"]
        assert len(r["rings_xs"]) == len(s["rings_xs"])
        # ring multisets equal bit-exactly (MultiPolygon nesting
        # reconstruction may reorder parts)
        got = sorted(tuple(zip(rx, ry)) for rx, ry
                     in zip(r["rings_xs"], r["rings_ys"]))
        want = sorted(tuple(zip(rx, ry)) for rx, ry
                      in zip(s["rings_xs"], s["rings_ys"]))
        assert got == want


def test_gml_write_roundtrip(spark, tmp_path):
    from fiona_spark.sources import gml
    src = _mixed_geoms(spark)
    p = str(tmp_path / "mixed.gml")
    gml.write_gml(src, p)
    back = gml.read_gml(spark, p).collect()
    _assert_geoms_roundtrip(back, src.collect())
    by_name = {r["name"]: r for r in back}
    assert by_name["pt"]["v"] == "10"           # XML escape round-trip
    assert "poly&hole" in by_name


@pytest.mark.skipif(not os.path.exists(REF_GML),
                    reason="reference test data not present")
def test_gml_write_reference_multicurve_replay(spark, tmp_path):
    """Read the reference's own multicurve.gml, write it with the new
    sink, re-read: linearized geometry survives bit-exactly."""
    from fiona_spark.sources import gml
    src = gml.read_gml(spark, REF_GML)
    p = str(tmp_path / "mc.gml")
    gml.write_gml(src.select("fid", "geom_type", "rings_xs", "rings_ys"), p)
    back = gml.read_gml(spark, p).collect()
    s0 = src.collect()[0]
    b0 = back[0]
    assert b0["geom_type"] == s0["geom_type"] == "MultiLineString"
    assert b0["rings_xs"] == s0["rings_xs"]
    assert b0["rings_ys"] == s0["rings_ys"]


def test_gpx_write_roundtrip_layers(spark, tmp_path):
    from fiona_spark.sources import gpx
    rows = [
        (0, "Point", [[7.5]], [[45.25]], "wp1"),
        (1, "LineString", [[1.0, 2.0, 3.0]], [[4.0, 5.0, 6.0]], "r1"),
        (2, "MultiLineString", [[10.0, 11.0], [12.0, 13.0]],
         [[20.0, 21.0], [22.0, 23.0]], "t1"),
    ]
    df = spark.createDataFrame(
        rows, "fid long, geom_type string, rings_xs array<array<double>>, "
              "rings_ys array<array<double>>, name string")
    p = str(tmp_path / "rt.gpx")
    gpx.write_gpx(df, p)
    wpt = gpx.read_gpx(spark, p, "waypoints").first()
    assert wpt["rings_xs"] == [[7.5]] and wpt["name"] == "wp1"
    rte = gpx.read_gpx(spark, p, "routes").first()
    assert rte["geom_type"] == "LineString"
    assert rte["rings_xs"] == [[1.0, 2.0, 3.0]] and rte["name"] == "r1"
    trk = gpx.read_gpx(spark, p, "tracks").first()
    assert trk["geom_type"] == "MultiLineString"
    assert trk["rings_xs"] == [[10.0, 11.0], [12.0, 13.0]]
    tp = gpx.read_gpx(spark, p, "track_points").collect()
    assert [(r["track_seg_id"]) for r in tp] == [0, 0, 1, 1]


@pytest.mark.skipif(not os.path.exists(REF_GPX),
                    reason="reference test data not present")
def test_gpx_write_reference_track_replay(spark, tmp_path):
    from fiona_spark.sources import gpx
    src = gpx.read_gpx(spark, REF_GPX, "tracks")
    p = str(tmp_path / "ref_rt.gpx")
    gpx.write_gpx(src.select("fid", "geom_type", "rings_xs", "rings_ys",
                             "name"), p)
    back = gpx.read_gpx(spark, p, "tracks").collect()
    s = src.collect()
    assert len(back) == len(s)
    for b0, s0 in zip(back, s):
        assert b0["rings_xs"] == s0["rings_xs"]
        assert b0["rings_ys"] == s0["rings_ys"]
        assert b0["name"] == s0["name"]


def test_kml_write_roundtrip(spark, tmp_path):
    from fiona_spark.sources import kml
    src = _mixed_geoms(spark)
    p = str(tmp_path / "mixed.kml")
    kml.write_kml(src, p)
    back = kml.read_kml(spark, p).collect()
    _assert_geoms_roundtrip(back, src.collect())
    by_name = {r["name"]: r for r in back}
    # non-name/description props travel through ExtendedData as strings
    assert by_name["ln"]["v"] == "11"


def test_driver_registry_modes_r5():
    from fiona_spark.sources import drivers
    caps = drivers.supported_drivers()
    assert caps["shapefile"] == "raw"
    assert caps["gml"] == "rw" and caps["gpx"] == "rw" and caps["kml"] == "rw"
    drivers.check_mode("shapefile", "a")
    drivers.check_mode("gml", "w")


def test_shapefile_append_equals_write_once(spark, tmp_path):
    """write(first half) + append(second half) must byte-equal
    write(all rows) on re-read: geometry, attributes, record numbering,
    .shx growth, bbox union, sidecars intact."""
    import os as _os

    import numpy as np
    from fiona_spark.sources import drivers, shapefile
    rng = np.random.default_rng(505)
    rows = []
    for i in range(20):
        n = int(rng.integers(3, 7))
        xs = [float(v) for v in rng.uniform(-170, 170, n)]
        ys = [float(v) for v in rng.uniform(-80, 80, n)]
        rows.append(("Polygon", [xs + [xs[0]]], [ys + [ys[0]]],
                     f"f{i}", i * 3))
    schema = ("geom_type string, rings_xs array<array<double>>, "
              "rings_ys array<array<double>>, name string, k long")
    df_all = spark.createDataFrame(rows, schema)
    df_a = spark.createDataFrame(rows[:12], schema)
    df_b = spark.createDataFrame(rows[12:], schema)

    p_once = str(tmp_path / "once.shp")
    shapefile.write_shapefile(df_all, p_once)
    p_app = str(tmp_path / "app.shp")
    shapefile.write_shapefile(df_a, p_app)
    drivers.write_dataset(df_b, p_app, mode="a")   # through the registry

    once = shapefile.read_shapefile(spark, p_once).orderBy("fid").collect()
    app = shapefile.read_shapefile(spark, p_app).orderBy("fid").collect()
    assert len(app) == len(once) == 20
    for r1, r2 in zip(once, app):
        assert r1["rings_xs"] == r2["rings_xs"]
        assert r1["rings_ys"] == r2["rings_ys"]
        assert r1["name"] == r2["name"] and r1["k"] == r2["k"]
    # .shx tracks all 20 records; bbox headers match; sidecars remain
    assert _os.path.getsize(p_app.replace(".shp", ".shx")) == 100 + 8 * 20
    with open(p_once, "rb") as fh1, open(p_app, "rb") as fh2:
        assert fh1.read(100)[24:] == fh2.read(100)[24:]
    assert _os.path.exists(p_app.replace(".shp", ".prj"))
    assert _os.path.exists(p_app.replace(".shp", ".cpg"))


def test_shapefile_append_type_mismatch_raises(spark, tmp_path):
    import pytest as _pytest
    from fiona_spark.errors import DriverError
    from fiona_spark.sources import shapefile
    poly = spark.createDataFrame(
        [("Polygon", [[0.0, 1.0, 1.0, 0.0]], [[0.0, 0.0, 1.0, 0.0]])],
        "geom_type string, rings_xs array<array<double>>, "
        "rings_ys array<array<double>>")
    pt = spark.createDataFrame(
        [("Point", [[5.0]], [[6.0]])],
        "geom_type string, rings_xs array<array<double>>, "
        "rings_ys array<array<double>>")
    p = str(tmp_path / "mismatch.shp")
    shapefile.write_shapefile(poly, p)
    with _pytest.raises(DriverError, match="incompatible"):
        shapefile.append_shapefile(pt, p)


# ---------------------------------------------------------------------------
# r5: FlatGeobuf driver (reference drvsupport.py:55 — public spec,
# flatbuffers wire format implemented struct-level, no GDAL)
# ---------------------------------------------------------------------------

def test_flatgeobuf_roundtrip_mixed_geoms(spark, tmp_path):
    from fiona_spark.sources import flatgeobuf
    src = _mixed_geoms(spark)
    p = str(tmp_path / "mixed.fgb")
    flatgeobuf.write_flatgeobuf(src, p)
    back = flatgeobuf.read_flatgeobuf(spark, p).collect()
    _assert_geoms_roundtrip(back, src.collect())
    by_name = {r["name"]: r for r in back}
    assert by_name["pt"]["v"] == "10"
    assert by_name["mls"]["v"] is None          # null property round-trip


def test_flatgeobuf_typed_properties_and_registry(spark, tmp_path):
    from fiona_spark.sources import drivers
    rows = [(0, "Point", [[1.25]], [[2.5]], "a", 7, 0.125, True),
            (1, "Point", [[3.0]], [[4.0]], "b", -9, 1e300, False)]
    df = spark.createDataFrame(
        rows, "fid long, geom_type string, "
              "rings_xs array<array<double>>, "
              "rings_ys array<array<double>>, "
              "name string, k long, v double, ok boolean")
    p = str(tmp_path / "typed.fgb")
    # through the registry: extension inference + mode gating
    assert drivers.driver_from_extension(p) == "flatgeobuf"
    drivers.write_dataset(df, p)
    back = drivers.open_dataset(spark, p).orderBy("fid").collect()
    assert [r["k"] for r in back] == [7, -9]
    assert [r["v"] for r in back] == [0.125, 1e300]     # bit-exact f8
    assert [r["ok"] for r in back] == [True, False]
    assert back[0]["rings_xs"] == [[1.25]]
    caps = drivers.supported_drivers()
    assert caps["flatgeobuf"] == "rw"


def test_flatgeobuf_fuzz_roundtrip(spark, tmp_path):
    """40 random polygons/lines through write->read: coordinates are
    straight <f8 copies both ways, so bit-exact."""
    import numpy as np
    from fiona_spark.sources import flatgeobuf
    rng = np.random.default_rng(909)
    rows = []
    for i in range(40):
        if i % 4 == 3:
            n = int(rng.integers(2, 8))
            rows.append((i, "LineString",
                         [[float(v) for v in rng.uniform(-180, 180, n)]],
                         [[float(v) for v in rng.uniform(-90, 90, n)]],
                         f"l{i}"))
        else:
            rings = int(rng.integers(1, 4))
            rxs, rys = [], []
            for _ in range(rings):
                n = int(rng.integers(3, 9))
                xs = [float(v) for v in rng.uniform(-180, 180, n)]
                ys = [float(v) for v in rng.uniform(-90, 90, n)]
                rxs.append(xs + [xs[0]]); rys.append(ys + [ys[0]])
            rows.append((i, "Polygon", rxs, rys, f"p{i}"))
    df = spark.createDataFrame(
        rows, "fid long, geom_type string, "
              "rings_xs array<array<double>>, "
              "rings_ys array<array<double>>, name string")
    from fiona_spark.sources.flatgeobuf import (read_flatgeobuf,
                                                write_flatgeobuf)
    p = str(tmp_path / "fuzz.fgb")
    write_flatgeobuf(df, p)
    back = read_flatgeobuf(spark, p).orderBy("fid").collect()
    src = df.collect()
    assert len(back) == 40
    for r, s_ in zip(back, src):
        assert r["geom_type"] == s_["geom_type"]
        assert r["rings_xs"] == s_["rings_xs"]
        assert r["rings_ys"] == s_["rings_ys"]
        assert r["name"] == s_["name"]


def test_flatgeobuf_index_skip():
    """Packed Hilbert R-tree sizing (spec packedrtree 40-byte nodes):
    the reader must skip exactly this many bytes when a GDAL-written
    file carries an index."""
    from fiona_spark.sources.flatgeobuf import _index_size
    assert _index_size(0, 16) == 0
    assert _index_size(10, 0) == 0              # unindexed (our writer)
    assert _index_size(1, 16) == (1 + 1) * 40
    assert _index_size(16, 16) == (16 + 1) * 40
    assert _index_size(17, 16) == (17 + 2 + 1) * 40
    assert _index_size(256, 16) == (256 + 16 + 1) * 40


# ---------------------------------------------------------------------------
# r5: OpenFileGDB reader against the reference's own fixture
# (testopenfilegdb.gdb.zip — reference drvsupport.py:47 registers the
# driver "raw"; r6: read AND write/append, like GDAL >= 3.6)
# ---------------------------------------------------------------------------

REF_GDB_ZIP = "/root/reference/tests/data/testopenfilegdb.gdb.zip"


@pytest.fixture(scope="module")
def gdb_dir(tmp_path_factory):
    import zipfile
    d = tmp_path_factory.mktemp("gdb")
    with zipfile.ZipFile(REF_GDB_ZIP) as zf:
        zf.extractall(d)
    return str(d / "testopenfilegdb.gdb")


@pytest.mark.skipif(not os.path.exists(REF_GDB_ZIP),
                    reason="reference test data not present")
def test_gdb_listlayers(gdb_dir):
    from fiona_spark.sources.openfilegdb import listlayers_gdb
    layers = listlayers_gdb(gdb_dir)
    assert len(layers) == 37
    assert layers[:4] == ["none", "point", "multipoint", "linestring"]
    assert "multipolygon" in layers and "big_layer" in layers
    # fiona.listlayers resolves .gdb through the same path
    assert catalog.listlayers(gdb_dir) == layers


@pytest.mark.skipif(not os.path.exists(REF_GDB_ZIP),
                    reason="reference test data not present")
def test_gdb_point_layer_values(spark, gdb_dir):
    """Every attribute type of the fixture's point layer: the values
    GDAL's own autotest asserts for this file."""
    from fiona_spark.sources import drivers
    df = drivers.open_dataset(spark, gdb_dir, layer="point")
    rows = df.orderBy("fid").collect()
    assert len(rows) == 5
    r = rows[0]
    assert r["OBJECTID"] == 1 and r["id"] == 1
    assert r["str"] == "foo_é"
    assert r["smallint"] == -13 and r["int"] == 123
    assert abs(r["float"] - 1.5) < 1e-6 and abs(r["real"] - 4.56) < 1e-12
    assert r["adate"] == "2013-12-26T12:34:56"
    assert r["guid"] == "{12345678-9ABC-DEF0-1234-567890ABCDEF}"
    assert r["xml"] == "<foo></foo>"
    assert r["binary"] == b"\x00\xff\x7f" and r["nullint"] is None
    assert r["geom_type"] == "Point"
    assert abs(r["xs"][0] - 1.0) < 1e-9 and abs(r["ys"][0] - 2.0) < 1e-9


@pytest.mark.skipif(not os.path.exists(REF_GDB_ZIP),
                    reason="reference test data not present")
def test_gdb_geometry_variants(spark, gdb_dir):
    from fiona_spark.sources.openfilegdb import read_openfilegdb

    def first(layer):
        return read_openfilegdb(spark, gdb_dir, layer).orderBy("fid").first()

    ls = first("linestring")
    assert ls["geom_type"] == "MultiLineString"
    assert [round(v, 9) for v in ls["xs"]] == [1.0, 3.0]
    assert [round(v, 9) for v in ls["ys"]] == [2.0, 4.0]
    mp = first("multipolygon")       # 2 squares, first with a hole
    assert mp["geom_type"] == "Polygon" and len(mp["rings_xs"]) == 3
    assert [round(v, 6) for v in mp["rings_xs"][2]] == \
        [2.0, 2.0, 3.0, 3.0, 2.0]
    mm = first("multilinestring_multipart")
    assert len(mm["rings_xs"]) == 2
    pz = first("point25D")           # Z parses then drops
    assert pz["geom_type"] == "Point"
    assert abs(pz["xs"][0] - 1.0) < 1e-9
    pzm = first("pointzm")
    assert pzm["geom_type"] == "Point"
    mpt = first("multipoint")
    assert mpt["geom_type"] == "MultiPoint"
    assert [round(v, 9) for v in mpt["xs"]] == [1.0, 3.0]
    nul = first("null_polygon")
    assert nul["geom_type"] is None and nul["rings_xs"] is None


@pytest.mark.skipif(not os.path.exists(REF_GDB_ZIP),
                    reason="reference test data not present")
def test_gdb_big_layer_and_deleted_rows(spark, gdb_dir):
    from fiona_spark.sources.openfilegdb import read_openfilegdb
    big = read_openfilegdb(spark, gdb_dir, "big_layer")
    pdf = big.select("fid", "real").toPandas()
    assert len(pdf) == 341
    # the 'hole' layer's first row is deleted in the fixture: fids
    # skip it and attribute decode still aligns
    hole = read_openfilegdb(spark, gdb_dir, "hole").orderBy("fid")
    rows = hole.collect()
    assert rows[0]["fid"] == 2 and rows[0]["str"] == "fid2"
    assert all(r["geom_type"] is None for r in rows)   # stored as null


def test_gdb_unknown_layer_raises(spark, tmp_path):
    from fiona_spark.sources.openfilegdb import (read_openfilegdb,
                                                 write_openfilegdb)
    path = str(tmp_path / "one.gdb")
    write_openfilegdb(spark.createDataFrame(
        [(1, "Point", [[1.0]], [[2.0]])],
        "k int, geom_type string, rings_xs array<array<double>>, "
        "rings_ys array<array<double>>"), path, layer="point")
    with pytest.raises(DriverError, match="no layer"):
        read_openfilegdb(spark, path, "nope")


def test_gdb_write_read_roundtrip(spark, tmp_path):
    """r6: engine FGDB write -> read round trip (drvsupport.py:47
    registers OpenFileGDB 'raw' since GDAL 3.6): polygons with holes,
    null geometry/properties, every mapped property type."""
    from fiona_spark.sources import openfilegdb as og
    rows = [
        (1, "alpha", 1.5, True, "Polygon",
         [[0.0, 0.0, 2.0, 2.0, 0.0], [0.5, 0.5, 1.5, 1.5, 0.5]],
         [[0.0, 2.0, 2.0, 0.0, 0.0], [0.5, 1.5, 1.5, 0.5, 0.5]]),
        (2, "beta", -3.25, False, "Polygon",
         [[10.0, 10.0, 11.5, 11.5, 10.0]], [[0.0, 1.0, 1.0, 0.0, 0.0]]),
        (3, None, None, None, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "k int, name string, v double, flag boolean, "
              "geom_type string, rings_xs array<array<double>>, "
              "rings_ys array<array<double>>")
    path = str(tmp_path / "written.gdb")
    og.write_openfilegdb(df, path, layer="zones")
    assert og.listlayers_gdb(path) == ["zones"]
    back = og.read_openfilegdb(spark, path, "zones").orderBy("fid")
    got = back.collect()
    assert [r["k"] for r in got] == [1, 2, 3]
    assert [r["name"] for r in got] == ["alpha", "beta", None]
    assert [r["v"] for r in got] == [1.5, -3.25, None]
    assert [r["flag"] for r in got] == [1, 0, None]   # bool -> int16
    # geometry: exact 1e9 quantization grid -> < 1e-9 deg error
    assert got[0]["geom_type"] == "Polygon"
    assert len(got[0]["rings_xs"]) == 2               # hole preserved
    for a, b in zip(got[0]["rings_xs"][1], [0.5, 0.5, 1.5, 1.5, 0.5]):
        assert abs(a - b) < 1e-9
    assert got[2]["geom_type"] is None and got[2]["rings_xs"] is None
    # the registry round trip (write_dataset / open_dataset, w then a)
    from fiona_spark.sources import drivers
    p2 = str(tmp_path / "via_registry.gdb")
    drivers.write_dataset(df, p2, "openfilegdb", layer="zones")
    drivers.write_dataset(df.limit(1), p2, "openfilegdb", mode="a",
                          layer="zones")
    assert drivers.open_dataset(spark, p2, layer="zones").count() == 4


def test_gdb_write_mixed_geometry_raises(spark, tmp_path):
    """r7: an FGDB layer carries ONE geometry type — mixing Point and
    Polygon rows must be a loud error, not a nondeterministic layer
    byte (Polygon+MultiPolygon share a byte and remain fine)."""
    from fiona_spark.errors import DriverError
    from fiona_spark.sources import openfilegdb as og
    mixed = spark.createDataFrame(
        [(1, "Point", [[0.5]], [[0.5]]),
         (2, "Polygon", [[0.0, 1.0, 1.0, 0.0]], [[0.0, 0.0, 1.0, 0.0]])],
        "k int, geom_type string, rings_xs array<array<double>>, "
        "rings_ys array<array<double>>")
    with pytest.raises(DriverError, match="mixed geometry"):
        og.write_openfilegdb(mixed, str(tmp_path / "mixed.gdb"),
                             layer="zones")
    ok = spark.createDataFrame(
        [(1, "Polygon", [[0.0, 1.0, 1.0, 0.0]], [[0.0, 0.0, 1.0, 0.0]]),
         (2, "MultiPolygon", [[5.0, 6.0, 6.0, 5.0]],
          [[5.0, 5.0, 6.0, 5.0]])],
        "k int, geom_type string, rings_xs array<array<double>>, "
        "rings_ys array<array<double>>")
    p = str(tmp_path / "poly.gdb")
    og.write_openfilegdb(ok, p, layer="zones")
    assert og.read_openfilegdb(spark, p, "zones").count() == 2


def test_gdb_write_bigint_as_float64(spark, tmp_path):
    """r7: bigint columns lower to FLOAT64 (GDAL's pre-Integer64 FGDB
    convention) so large-id datasets are writable; values exact to
    2^53."""
    from fiona_spark.sources import openfilegdb as og
    big = 2**40 + 7
    df = spark.createDataFrame(
        [(big, "a", "Point", [[1.0]], [[2.0]])],
        "doc_id bigint, name string, geom_type string, "
        "rings_xs array<array<double>>, rings_ys array<array<double>>")
    p = str(tmp_path / "big.gdb")
    og.write_openfilegdb(df, p, layer="docs")
    row = og.read_openfilegdb(spark, p, "docs").first()
    assert row["doc_id"] == float(big)   # read back as double, exact


@pytest.mark.skipif(not os.path.exists(REF_GDB_ZIP),
                    reason="reference test data not present")
def test_gdb_append_to_reference_fixture(spark, gdb_dir, tmp_path):
    """r6: append rows to a gdb authored ELSEWHERE (the reference's
    own fixture) — encode against ITS stored field descriptors and
    quantization grid; old rows must stay byte-identical."""
    import shutil
    from fiona_spark.sources import openfilegdb as og
    work = str(tmp_path / "ref_append.gdb")
    shutil.copytree(gdb_dir, work)
    before = og.read_openfilegdb(spark, work, "point").orderBy("fid") \
        .collect()
    more = spark.createDataFrame(
        [(77, "written", -5, 555, 3.125, "2021-06-01T12:34:56",
          "{12345678-9ABC-DEF0-1234-56789ABCDEF0}", b"\x01\x02",
          "Point", [[3.5]], [[4.25]])],
        "id int, str string, smallint smallint, int int, real double, "
        "adate string, guid string, binary binary, geom_type string, "
        "rings_xs array<array<double>>, rings_ys array<array<double>>")
    og.write_openfilegdb(more, work, layer="point", mode="a")
    after = og.read_openfilegdb(spark, work, "point").orderBy("fid") \
        .collect()
    assert len(after) == len(before) + 1
    skip_geo = ("xs", "ys", "rings_xs", "rings_ys",
                "xmin", "ymin", "xmax", "ymax")
    for old, new in zip(before, after):
        do, dn = old.asDict(), new.asDict()
        assert {k: v for k, v in do.items() if k not in skip_geo} \
            == {k: v for k, v in dn.items() if k not in skip_geo}
    last = after[-1]
    assert last["id"] == 77 and last["str"] == "written"
    assert last["smallint"] == -5 and last["int"] == 555
    assert last["real"] == 3.125
    assert last["adate"] == "2021-06-01T12:34:56"
    assert last["guid"] == "{12345678-9ABC-DEF0-1234-56789ABCDEF0}"
    assert last["binary"] == b"\x01\x02" and last["nullint"] is None
    # quantized on the FIXTURE's grid (xyscale ~1e9): < 1e-9 deg error
    assert abs(last["xs"][0] - 3.5) < 1e-9
    assert abs(last["ys"][0] - 4.25) < 1e-9
    # adding a brand-NEW layer to the fixture gdb
    og.write_openfilegdb(more, work, layer="engine_new", mode="a")
    assert "engine_new" in og.listlayers_gdb(work)
    assert og.read_openfilegdb(spark, work, "engine_new").count() == 1
    # reference layers still resolve after the catalog rewrite
    assert og.read_openfilegdb(spark, work, "several_polygons").count() == 9


def test_flatgeobuf_hilbert_matches_scalar_reference():
    """Vectorized Hilbert code vs an independent scalar xy2d
    (Wikipedia square-rotation form) on the 2^16 grid."""
    import numpy as np
    from fiona_spark.sources.flatgeobuf import _hilbert_xy2d

    def xy2d(order_n, x, y):
        d = 0
        s = order_n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:                  # rotate
                if rx == 1:
                    x = s - 1 - x
                    y = s - 1 - y
                x, y = y, x
            s //= 2
        return d

    rng = np.random.default_rng(7)
    xs = rng.integers(0, 65536, 300).astype(np.uint32)
    ys = rng.integers(0, 65536, 300).astype(np.uint32)
    got = _hilbert_xy2d(xs, ys)
    want = [xy2d(1 << 16, int(a), int(b)) for a, b in zip(xs, ys)]
    assert got.tolist() == want


def test_flatgeobuf_indexed_write_and_bbox_pushdown(spark, tmp_path):
    """Packed Hilbert R-tree: indexed file reads back complete, the
    byte layout matches the spec sizing, and bbox reads slice exactly
    the intersecting features (oracle: envelope post-filter of the
    full scan)."""
    import numpy as np
    from fiona_spark.sources import flatgeobuf as fgb
    rng = np.random.default_rng(31)
    rows = []
    for i in range(57):                  # > node_size^2 -> 3 levels
        x0, y0 = float(rng.uniform(-170, 160)), float(rng.uniform(-80, 70))
        w, h = (float(v) for v in rng.uniform(0.5, 8, 2))
        rows.append((i, "Polygon",
                     [[x0, x0 + w, x0 + w, x0, x0]],
                     [[y0, y0, y0 + h, y0 + h, y0]]))
    df = spark.createDataFrame(
        rows, "k long, geom_type string, rings_xs array<array<double>>,"
              " rings_ys array<array<double>>")
    p = str(tmp_path / "idx.fgb")
    fgb.write_flatgeobuf(df, p, geometry_type="Polygon",
                         index_node_size=4)
    # spec sizing: magic + header + index + features == file length
    data = open(p, "rb").read()
    hsize = int.from_bytes(data[8:12], "little")
    _n, _gt, _cols, n_feat, node_size, body = fgb._parse_header(data)
    assert n_feat == 57 and node_size == 4
    assert body == 12 + hsize + fgb._index_size(57, 4)
    full = fgb.read_flatgeobuf(spark, p).collect()
    assert sorted(r["k"] for r in full) == list(range(57))
    # fid == file position (hilbert order), not input order
    assert [r["fid"] for r in sorted(full, key=lambda r: r["fid"])] \
        == list(range(57))
    for _case in range(12):
        qx = sorted(rng.uniform(-180, 180, 2))
        qy = sorted(rng.uniform(-90, 90, 2))
        bbox = (qx[0], qy[0], qx[1], qy[1])
        got = sorted(r["k"] for r in
                     fgb.read_flatgeobuf(spark, p, bbox=bbox).collect())
        want = sorted(r["k"] for r in full
                      if r["xmin"] <= bbox[2] and r["xmax"] >= bbox[0]
                      and r["ymin"] <= bbox[3] and r["ymax"] >= bbox[1])
        assert got == want
    # unindexed file: same bbox semantics via the post-decode filter
    p2 = str(tmp_path / "noidx.fgb")
    fgb.write_flatgeobuf(df, p2, geometry_type="Polygon")
    bbox = (-50.0, -30.0, 40.0, 45.0)
    a = sorted(r["k"] for r in
               fgb.read_flatgeobuf(spark, p2, bbox=bbox).collect())
    b = sorted(r["k"] for r in
               fgb.read_flatgeobuf(spark, p, bbox=bbox).collect())
    assert a == b and len(a) > 0


def test_flatgeobuf_indexed_null_geometry(spark, tmp_path):
    from fiona_spark.sources import flatgeobuf as fgb
    rows = [(0, "Polygon", [[10.0, 11.0, 11.0, 10.0]],
             [[10.0, 10.0, 11.0, 11.0]]),
            (1, None, None, None),
            (2, "Polygon", [[40.0, 41.0, 41.0, 40.0]],
             [[40.0, 40.0, 41.0, 41.0]])]
    df = spark.createDataFrame(
        rows, "k long, geom_type string, rings_xs array<array<double>>,"
              " rings_ys array<array<double>>")
    p = str(tmp_path / "nullg.fgb")
    fgb.write_flatgeobuf(df, p, geometry_type="Polygon",
                         index_node_size=16)
    assert sorted(r["k"] for r in
                  fgb.read_flatgeobuf(spark, p).collect()) == [0, 1, 2]
    got = [r["k"] for r in
           fgb.read_flatgeobuf(spark, p, bbox=(39, 39, 42, 42)).collect()]
    assert got == [2]


def test_flatgeobuf_indexed_write_empty(spark, tmp_path):
    """index_node_size>0 on an EMPTY DataFrame must produce a valid
    unindexed empty file, not crash in _hilbert_order (r5 advice)."""
    from fiona_spark.sources import flatgeobuf as fgb
    df = spark.createDataFrame(
        [], "k long, geom_type string, rings_xs array<array<double>>,"
            " rings_ys array<array<double>>")
    p = str(tmp_path / "empty.fgb")
    fgb.write_flatgeobuf(df, p, geometry_type="Polygon",
                         index_node_size=16)
    assert fgb.read_flatgeobuf(spark, p).count() == 0
    assert fgb.read_flatgeobuf(spark, p, bbox=(0, 0, 1, 1)).count() == 0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        fgb._level_num_nodes(0, 16)


def test_geopackage_rtree_index_and_bbox_read(spark, tmp_path):
    """gpkg_rtree_index extension: write with spatial_index=True, read
    with bbox pruned through the rtree join (oracle: envelope filter of
    the full read); append keeps the index consistent."""
    import sqlite3
    from fiona_spark.sources import geopackage as gp
    rows = [(i, "Polygon",
             [[float(i), float(i) + 2, float(i) + 2, float(i), float(i)]],
             [[0.0, 0.0, 2.0, 2.0, 0.0]]) for i in range(20)]
    df = spark.createDataFrame(
        rows, "k long, geom_type string, rings_xs array<array<double>>,"
              " rings_ys array<array<double>>")
    p = str(tmp_path / "idx.gpkg")
    gp.write_geopackage(df, p, layer="zones", spatial_index=True)
    with sqlite3.connect(p) as con:
        assert con.execute("SELECT count(*) FROM rtree_zones_geom"
                           ).fetchone()[0] == 20
        assert con.execute(
            "SELECT extension_name FROM gpkg_extensions "
            "WHERE table_name = 'zones'").fetchone()[0] \
            == "gpkg_rtree_index"
    bbox = (4.5, -1.0, 7.5, 3.0)
    got = sorted(r["k"] for r in
                 gp.read_geopackage(spark, p, "zones", bbox=bbox).collect())
    full = gp.read_geopackage(spark, p, "zones").collect()
    want = sorted(r["k"] for r in full
                  if r["xmin"] <= bbox[2] and r["xmax"] >= bbox[0]
                  and r["ymin"] <= bbox[3] and r["ymax"] >= bbox[1])
    assert got == want and 0 < len(got) < 20
    # append keeps the rtree in sync even without the flag
    more = spark.createDataFrame(
        [(99, "Polygon", [[50.0, 51.0, 51.0, 50.0, 50.0]],
          [[0.0, 0.0, 1.0, 1.0, 0.0]])],
        "k long, geom_type string, rings_xs array<array<double>>,"
        " rings_ys array<array<double>>")
    gp.write_geopackage(more, p, layer="zones", mode="a")
    got = [r["k"] for r in gp.read_geopackage(
        spark, p, "zones", bbox=(49.0, -1.0, 52.0, 2.0)).collect()]
    assert got == [99]
    # bbox on an UNINDEXED file: same semantics via the post filter
    p2 = str(tmp_path / "noidx.gpkg")
    gp.write_geopackage(df, p2, layer="zones")
    a = sorted(r["k"] for r in
               gp.read_geopackage(spark, p2, "zones", bbox=bbox).collect())
    assert a == want


def test_geopackage_append_index_backfills_existing(spark, tmp_path):
    """Appending with spatial_index=True to a layer written WITHOUT an
    rtree backfills the index from the pre-existing geometries — bbox
    reads must still see the old rows (r5 advice: they were silently
    dropped)."""
    import sqlite3
    from fiona_spark.sources import geopackage as gp
    schema = ("k long, geom_type string, rings_xs array<array<double>>,"
              " rings_ys array<array<double>>")
    old = spark.createDataFrame(
        [(i, "Polygon",
          [[float(i), float(i) + 1, float(i) + 1, float(i), float(i)]],
          [[0.0, 0.0, 1.0, 1.0, 0.0]]) for i in range(5)], schema)
    p = str(tmp_path / "backfill.gpkg")
    gp.write_geopackage(old, p, layer="zones")          # no index
    new = spark.createDataFrame(
        [(99, "Polygon", [[50.0, 51.0, 51.0, 50.0, 50.0]],
          [[0.0, 0.0, 1.0, 1.0, 0.0]])], schema)
    gp.write_geopackage(new, p, layer="zones", mode="a",
                        spatial_index=True)             # creates rtree now
    with sqlite3.connect(p) as con:
        assert con.execute("SELECT count(*) FROM rtree_zones_geom"
                           ).fetchone()[0] == 6          # 5 old + 1 new
    # bbox read over the OLD rows goes through the rtree join and must
    # still return them
    got = sorted(r["k"] for r in gp.read_geopackage(
        spark, p, "zones", bbox=(1.5, -1.0, 3.5, 2.0)).collect())
    assert got == [1, 2, 3]
    assert [r["k"] for r in gp.read_geopackage(
        spark, p, "zones", bbox=(49.0, -1.0, 52.0, 2.0)).collect()] == [99]
