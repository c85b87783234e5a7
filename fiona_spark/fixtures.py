"""Deterministic synthetic fixtures (FIXTURES.md), generated in-engine.

Two tables, reproducible bit-for-bit from seed=42 at any scale:

* ``images`` — the north-star input (BASELINE.json input_hint):
  ``(image_id string, bytes binary, w int, h int, fmt string,
  caption string, phash bigint)`` + derived footprint geometry
  ``(lng, lat, xmin, ymin, xmax, ymax)``.  Payload bytes are real
  encoded pixels (fiona_spark.codec formats).  5% of rows are clamped
  into one hot 1x1-degree cell to exercise skew handling.

* ``zones`` — polygon layer mirroring the reference's canonical
  ``coutwildrnp.shp`` fixture (67 polygons, 10 properties with Fiona's
  exact schema strings, `/root/reference/tests/test_collection.py:161-167`):
  convex polygons (vertices on an ellipse, 8-32 verts), same property
  names/types, "Mount ..." NAME prefixes so the reference's
  ``where="NAME LIKE 'Mount%'"`` tests port over; two zones straddle
  the antimeridian.

Generation is itself a Spark job (``mapInPandas`` over ``spark.range``)
so the 100 TB-scale story — synthesize/ingest in parallel, never
through the driver — holds even for fixtures; a single-node pandas path
shares the same per-row code for oracle use.

Lossy format note: FIXTURES.md sketched ``q4``; 4-bit quantization
cannot meet the PSNR>=40dB gate (~34dB by construction), so the lossy
fixture format is ``q6`` (~46dB).  ``q4`` stays in the codec as the
below-gate negative-test format.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from . import codec, geom

SEED = 42
PHI = 137.50776405003785      # golden-angle low-discrepancy steppers
PHI2 = 73.17234262469423
ZPHI = 222.49223594996215
ZPHI2 = 51.7423103442069
HOT_LNG, HOT_LAT = 10.0, 45.0   # 1x1-degree hot cell (skew injection)
FMTS = ("raw", "rle", "q6")
SIZES = np.array([16, 32, 64])

IMAGE_COLUMNS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                 "lng", "lat", "xmin", "ymin", "xmax", "ymax"]

IMAGES_SCHEMA = ("image_id string, bytes binary, w int, h int, fmt string, "
                 "caption string, phash long, lng double, lat double, "
                 "xmin double, ymin double, xmax double, ymax double")

ZONE_NAMES = ["Rawah", "Comanche Peak", "Neota", "Cache La Poudre", "Indian Peaks",
              "Sarvis Creek", "Never Summer", "Mount Zirkel", "Byers Peak", "Vasquez Peak"]
ZONE_STATES = [("CO", "08"), ("UT", "49"), ("WY", "56"), ("NM", "35"), ("AZ", "04")]
ZONE_AGBUR = ["FS", "BLM", "NPS"]

ZONES_SCHEMA = ("zone_id string, xs array<double>, ys array<double>, "
                "xmin double, ymin double, xmax double, ymax double, "
                "clng double, clat double, "
                "PERIMETER double, FEATURE2 string, NAME string, FEATURE1 string, "
                "URL string, AGBUR string, AREA double, STATE_FIPS string, "
                "STATE string, WILDRNP020 long")


def n_images(sf: float) -> int:
    return int(round(sf * 1_000_000))


def n_zones(sf: float) -> int:
    return max(67, int(round(67 * sf * 1000)))


# ---------------------------------------------------------------------------
# images
# ---------------------------------------------------------------------------

def gen_image(i: int) -> dict:
    """One image row; the single source of truth for row ``i``."""
    rng = np.random.default_rng(SEED + i)
    w = int(SIZES[rng.integers(0, 3)])
    h = int(SIZES[rng.integers(0, 3)])
    fmt = FMTS[i % 3]
    cx = rng.uniform(0.2, 1.0, 3)
    noise = rng.integers(0, 25, (h, w, 3))
    ramp_x = np.linspace(0.0, 230.0, w)
    ramp_y = np.linspace(0.0, 230.0, h)
    img = np.empty((h, w, 3), dtype=np.uint8)
    for ch in range(3):
        img[:, :, ch] = np.clip(
            ramp_x[None, :] * cx[ch] + ramp_y[:, None] * (1.0 - cx[ch]) + noise[:, :, ch],
            0, 255)
    data = codec.encode(img, fmt)
    # phash over DECODED pixels: lossy rows hash what a reader decodes,
    # so recomputation from the payload always matches the stored value
    ph = codec.phash64(codec.decode(data, fmt, w, h))
    if i % 20 == 0:   # 5% skew: clamp into the hot cell
        lng = HOT_LNG + (i * PHI) % 1.0
        lat = HOT_LAT + (i * PHI2) % 1.0
    else:
        lng = -180.0 + (i * PHI) % 360.0
        lat = -60.0 + (i * PHI2) % 120.0
    half_w = rng.uniform(0.01, 0.5)
    half_h = rng.uniform(0.01, 0.5)
    return {
        "image_id": f"img{i:010d}", "bytes": data, "w": w, "h": h, "fmt": fmt,
        "caption": f"caption for img{i} class={i % 17}", "phash": ph,
        "lng": lng, "lat": lat,
        "xmin": lng - half_w, "ymin": lat - half_h,
        "xmax": lng + half_w, "ymax": lat + half_h,
    }


def gen_images_pdf(start: int, stop: int) -> pd.DataFrame:
    rows = [gen_image(i) for i in range(start, stop)]
    return pd.DataFrame(rows, columns=IMAGE_COLUMNS)


def images_df(spark, n: int):
    """Distributed generation: spark.range -> mapInPandas batches."""
    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            yield pd.DataFrame([gen_image(int(i)) for i in ids],
                               columns=IMAGE_COLUMNS)
    parts = max(8, int(spark.conf.get("spark.sql.shuffle.partitions", "8")))
    return spark.range(0, n, 1, parts).mapInPandas(gen, IMAGES_SCHEMA)


# ---------------------------------------------------------------------------
# zones
# ---------------------------------------------------------------------------

def gen_zone(j: int, antimeridian: bool = False) -> dict:
    rng = np.random.default_rng(10_000_000 + SEED + j)
    if j == 0:
        # zone 0 always covers the hot cell: the fixture's skewed 5% of
        # images have a containing polygon, so the PIP join itself is
        # skewed (not just the cell histogram)
        clng, clat = HOT_LNG + 0.5, HOT_LAT + 0.5
    elif antimeridian:
        clng = 179.9 if j % 2 == 0 else -179.9
        clat = -50.0 + (j * ZPHI2) % 100.0
    else:
        clng = -180.0 + (j * ZPHI) % 360.0
        clat = -55.0 + (j * ZPHI2) % 110.0
    nv = int(rng.integers(8, 33))
    r1 = 2.0 if j == 0 else rng.uniform(0.3, 3.0)
    r2 = 2.0 if j == 0 else rng.uniform(0.3, 3.0)
    angles = np.sort(rng.uniform(0.0, 2.0 * np.pi, nv))
    xs = clng + r1 * np.cos(angles)     # points on an ellipse => convex
    ys = np.clip(clat + r2 * np.sin(angles), -89.9, 89.9)
    name_base = ZONE_NAMES[j % len(ZONE_NAMES)]
    name = f"Mount {name_base}" if j % 3 == 0 else f"{name_base} Wilderness"
    state, fips = ZONE_STATES[j % len(ZONE_STATES)]
    return {
        "zone_id": f"z{j:06d}",
        "xs": xs, "ys": ys,
        "xmin": float(xs.min()), "ymin": float(ys.min()),
        "xmax": float(xs.max()), "ymax": float(ys.max()),
        "clng": clng, "clat": clat,
        "PERIMETER": geom.ring_length(xs, ys),
        "FEATURE2": None if j % 7 == 0 else "Wilderness",
        "NAME": name,
        "FEATURE1": "Wilderness",
        "URL": f"http://example.com/zone/{j}",
        "AGBUR": ZONE_AGBUR[j % 3],
        "AREA": geom.shoelace_area(xs, ys),
        "STATE_FIPS": fips,
        "STATE": state,
        "WILDRNP020": j,
    }


def gen_zones_pdf(n: int) -> pd.DataFrame:
    # two fixed antimeridian stradders (FIXTURES.md), rest regular
    rows = [gen_zone(j, antimeridian=(j in (13, 27))) for j in range(n)]
    return pd.DataFrame(rows)


def zones_df(spark, n: int):
    pdf = gen_zones_pdf(n)
    return spark.createDataFrame(pdf, schema=ZONES_SCHEMA)


# ---------------------------------------------------------------------------
# parquet cache
# ---------------------------------------------------------------------------

_CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      ".fixtures")


def images_path(spark, sf: float, cache_dir: str | None = None) -> str:
    """Materialize (once) and return the parquet path for images at sf."""
    d = cache_dir or _CACHE
    path = os.path.join(d, f"images_sf{sf}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        images_df(spark, n_images(sf)).write.mode("overwrite").parquet(path)
    return path


def zones_path(spark, sf: float, cache_dir: str | None = None) -> str:
    d = cache_dir or _CACHE
    path = os.path.join(d, f"zones_sf{sf}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        zones_df(spark, n_zones(sf)).write.mode("overwrite").parquet(path)
    return path


# ---------------------------------------------------------------------------
# multi-ring zones (holes / MultiPolygon — the reference's full geometry
# model, fiona/model.py:18-115; implicit Polygon->MultiPolygon promotion
# on write, fiona/collection.py:699-720)
# ---------------------------------------------------------------------------

ZONES_MULTI_SCHEMA = ("zone_id string, rings_xs array<array<double>>, "
                      "rings_ys array<array<double>>, "
                      "xmin double, ymin double, xmax double, ymax double, "
                      "clng double, clat double, kind string, n_rings long")


def _ellipse_ring(cx: float, cy: float, r1: float, r2: float, nv: int,
                  phase: float, reverse: bool = False):
    """Evenly-spaced convex ring (chords stay within cos(pi/nv) of the
    ellipse, so concentric rings with radius ratio < cos(pi/nv) nest)."""
    t = phase + np.arange(nv) * (2.0 * np.pi / nv)
    xs = cx + r1 * np.cos(t)
    ys = np.clip(cy + r2 * np.sin(t), -89.9, 89.9)
    if reverse:
        xs, ys = xs[::-1].copy(), ys[::-1].copy()
    return xs, ys


def gen_zone_multi(j: int) -> dict:
    """Deterministic multi-ring zone: cycles through hole-bearing,
    MultiPolygon, nested (hole + island) and plain shapes."""
    rng = np.random.default_rng(20_000_000 + SEED + j)
    kind = ("holed", "multi", "nested", "plain")[j % 4]
    if j == 0:
        clng, clat = HOT_LNG + 0.5, HOT_LAT + 0.5   # hot cell stays covered
    else:
        clng = -170.0 + (j * ZPHI) % 340.0          # no antimeridian wrap
        clat = -55.0 + (j * ZPHI2) % 110.0
    nv = int(rng.integers(8, 21))
    r1 = 2.0 if j == 0 else rng.uniform(0.8, 3.0)
    r2 = 2.0 if j == 0 else rng.uniform(0.8, 3.0)
    ph = rng.uniform(0.0, 2.0 * np.pi)
    rings = []
    if kind == "holed":
        rings.append(_ellipse_ring(clng, clat, r1, r2, nv, ph))
        rings.append(_ellipse_ring(clng, clat, 0.5 * r1, 0.5 * r2, nv, ph,
                                   reverse=True))
    elif kind == "multi":
        off = r1 + 0.5
        rings.append(_ellipse_ring(clng - off, clat, r1 * 0.8, r2 * 0.8, nv, ph))
        rings.append(_ellipse_ring(clng + off, clat, r1 * 0.6, r2 * 0.6, nv, ph))
    elif kind == "nested":
        rings.append(_ellipse_ring(clng, clat, r1, r2, nv, ph))
        rings.append(_ellipse_ring(clng, clat, 0.6 * r1, 0.6 * r2, nv, ph,
                                   reverse=True))
        rings.append(_ellipse_ring(clng, clat, 0.3 * r1, 0.3 * r2, nv, ph))
    else:
        rings.append(_ellipse_ring(clng, clat, r1, r2, nv, ph))
    all_x = np.concatenate([r[0] for r in rings])
    all_y = np.concatenate([r[1] for r in rings])
    return {
        "zone_id": f"m{j:06d}",
        "rings_xs": [list(map(float, r[0])) for r in rings],
        "rings_ys": [list(map(float, r[1])) for r in rings],
        "xmin": float(all_x.min()), "ymin": float(all_y.min()),
        "xmax": float(all_x.max()), "ymax": float(all_y.max()),
        "clng": clng, "clat": clat, "kind": kind, "n_rings": len(rings),
    }


def gen_zones_multi_pdf(n: int) -> pd.DataFrame:
    return pd.DataFrame([gen_zone_multi(j) for j in range(n)])


# Canonical correctness-scale fixtures, written as single parquet files
# with plain pyarrow (no Spark needed) so BOTH the Spark queries and the
# DuckDB oracle SQL can read the identical bytes.
CANON_N_IMAGES = 2000
CANON_N_ZONES = 67


def ensure_canon(cache_dir: str | None = None) -> tuple[str, str]:
    """Materialize the canonical images/zones fixtures; return paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = cache_dir or _CACHE
    os.makedirs(d, exist_ok=True)
    img_path = os.path.join(d, "canon_images.parquet")
    zone_path = os.path.join(d, "canon_zones.parquet")
    if not os.path.exists(img_path):
        pdf = gen_images_pdf(0, CANON_N_IMAGES)
        tmp = img_path + ".tmp"
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
        os.replace(tmp, img_path)
    if not os.path.exists(zone_path):
        zdf = gen_zones_pdf(CANON_N_ZONES)
        zdf = zdf.assign(xs=[list(map(float, v)) for v in zdf["xs"]],
                         ys=[list(map(float, v)) for v in zdf["ys"]])
        tmp = zone_path + ".tmp"
        pq.write_table(pa.Table.from_pandas(zdf, preserve_index=False), tmp)
        os.replace(tmp, zone_path)
    return img_path, zone_path


def ensure_canon_shp_truth(cache_dir: str | None = None) -> str:
    """Per-vertex parquet twin of the canonical-zones shapefile, built
    INDEPENDENTLY of the engine's .shp writer/reader (pure numpy ring
    closure + ESRI winding: outer rings clockwise, Shapefile Technical
    Description p.12).  This is the ORACLE side of the
    ``shapefile_source`` driver-contract query: the Spark side must
    reproduce these exact doubles after a full write->read round trip
    through the binary format, so the writer's winding, the dbf
    round-trip, and the <f8 coordinate copies are all differentially
    checked bit-for-bit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = cache_dir or _CACHE
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "canon_zones_shp_truth.parquet")
    if os.path.exists(path):
        return path
    zdf = gen_zones_pdf(CANON_N_ZONES)
    recs = []
    for _, z in zdf.iterrows():
        xs = np.asarray(z["xs"], np.float64)
        ys = np.asarray(z["ys"], np.float64)
        if xs[0] != xs[-1] or ys[0] != ys[-1]:
            xs = np.append(xs, xs[0])
            ys = np.append(ys, ys[0])
        # shoelace over the closed ring (duplicate endpoint contributes
        # zero); positive = CCW => reverse to the ESRI CW shell form
        a2 = float(np.dot(xs, np.roll(ys, -1)) - np.dot(ys, np.roll(xs, -1)))
        if a2 > 0:
            xs, ys = xs[::-1], ys[::-1]
        for vi, (x, y) in enumerate(zip(xs, ys)):
            recs.append({"zone_id": z["zone_id"], "NAME": z["NAME"],
                         "AGBUR": z["AGBUR"],
                         "WILDRNP020": int(z["WILDRNP020"]),
                         "vi": vi, "x": float(x), "y": float(y)})
    tdf = pd.DataFrame(recs)
    tdf["WILDRNP020"] = tdf["WILDRNP020"].astype("int64")
    tdf["vi"] = tdf["vi"].astype("int64")
    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pandas(tdf, preserve_index=False), tmp)
    os.replace(tmp, path)
    return path


def ensure_canon_shp(spark, cache_dir: str | None = None) -> str:
    """Materialize the canonical zones as a real on-disk ESRI Shapefile
    (through the engine's struct-level sink) and return the .shp path."""
    d = cache_dir or _CACHE
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "canon_zones_shp", "zones.shp")
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    from .sources.shapefile import write_shapefile
    write_shapefile(_canon_zones_spark_df(spark), path)
    return path


def ensure_canon_shp_zip(spark, cache_dir: str | None = None) -> str:
    """Zip the canonical-zones shapefile (all sidecars) and return a
    reference-syntax VFS URI ``zip://<archive>!zones.shp`` — the
    fixture for the ``vfs_source`` driver-contract row (the reference's
    canonical `zip://...!member.shp` case, `fiona/vfs.py`)."""
    import zipfile

    d = cache_dir or _CACHE
    shp = ensure_canon_shp(spark, cache_dir)
    arc = os.path.join(d, "canon_zones_shp.zip")
    if not os.path.exists(arc):
        stem = os.path.splitext(shp)[0]
        tmp = arc + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
            for ext in (".shp", ".shx", ".dbf", ".prj", ".cpg"):
                member = stem + ext
                if os.path.exists(member):
                    # fixed timestamp: the archive is a deterministic
                    # fixture, not a build artifact
                    zi = zipfile.ZipInfo(f"zones{ext}", (1980, 1, 1, 0, 0, 0))
                    with open(member, "rb") as fh:
                        z.writestr(zi, fh.read())
        os.replace(tmp, arc)
    return f"zip://{arc}!zones.shp"


def _canon_zones_spark_df(spark):
    """Canonical zones as a ring-model Spark frame (writer input for the
    single-file format fixtures).  Column order is the fixture contract:
    zone_id, xs, ys, NAME, AGBUR, WILDRNP020."""
    zdf = gen_zones_pdf(CANON_N_ZONES)
    zdf = zdf[["zone_id", "xs", "ys", "NAME", "AGBUR", "WILDRNP020"]].assign(
        xs=[list(map(float, v)) for v in zdf["xs"]],
        ys=[list(map(float, v)) for v in zdf["ys"]])
    return spark.createDataFrame(
        zdf, schema="zone_id string, xs array<double>, ys array<double>, "
                    "NAME string, AGBUR string, WILDRNP020 long")


def ensure_canon_gpkg(spark, cache_dir: str | None = None) -> str:
    """Materialize the canonical zones as a real GeoPackage (through the
    engine's sqlite3 + GeoPackageBinary sink) and return the .gpkg path.

    Unlike the shapefile twin there is NO winding normalization in the
    GPKG path: the WKB codec copies coordinates as raw <f8, so the
    ``gpkg_source`` oracle is the canonical zones parquet itself,
    unnested per vertex — the write->read round trip must be
    bit-identical to the source frame."""
    d = cache_dir or _CACHE
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "canon_zones.gpkg")
    if os.path.exists(path):
        return path
    from .sources.geopackage import write_geopackage
    tmp = path + ".tmp"
    if os.path.exists(tmp):
        os.remove(tmp)
    write_geopackage(_canon_zones_spark_df(spark), tmp, layer="zones")
    os.replace(tmp, path)
    return path


def ensure_canon_fgb(spark, cache_dir: str | None = None) -> str:
    """Materialize the canonical zones as a real FlatGeobuf file
    (struct-level flatbuffers sink, unindexed) and return the .fgb path.
    Same bit-exact round-trip contract as :func:`ensure_canon_gpkg`."""
    d = cache_dir or _CACHE
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "canon_zones.fgb")
    if os.path.exists(path):
        return path
    from .sources.flatgeobuf import write_flatgeobuf
    write_flatgeobuf(_canon_zones_spark_df(spark), path, name="zones",
                     geometry_type="Polygon")
    return path


def ensure_canon_gdb(spark, cache_dir: str | None = None) -> str:
    """Materialize the canonical zones as a real ESRI File Geodatabase
    directory through the engine's .gdbtable/.gdbtablx encoder and
    return the gdb path (reference `drvsupport.py:47` — OpenFileGDB
    "raw" w/a since GDAL 3.6).  Unlike the gpkg/fgb twins the FGDB
    format QUANTIZES coordinates on the layer grid (varint deltas of
    ``round((v - origin) * xyscale)``), so the ``openfilegdb_source``
    oracle is :func:`ensure_canon_gdb_truth` — an INDEPENDENT numpy
    application of the spec's quantization formula — not the raw
    zones parquet."""
    from pyspark.sql import functions as F

    d = cache_dir or _CACHE
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "canon_zones.gdb")
    if os.path.isdir(path) and os.path.exists(
            os.path.join(path, "a00000001.gdbtable")):
        return path
    from .sources.openfilegdb import write_openfilegdb
    df = _canon_zones_spark_df(spark).withColumn(
        "geom_type", F.lit("Polygon"))
    write_openfilegdb(df, path, layer="zones")
    return path


def ensure_canon_gdb_truth(cache_dir: str | None = None) -> str:
    """Per-vertex parquet twin of the canonical-zones FileGDB, built
    INDEPENDENTLY of the engine's .gdbtable codec: pure numpy
    application of the FGDB spec's coordinate quantization
    (``round((v - origin) * xyscale) / xyscale + origin`` with the
    writer's documented grid: origin -400, xyscale 1e9).  This is the
    ORACLE side of the ``openfilegdb_source`` driver-contract query —
    the Spark side must reproduce these exact doubles after a full
    write->read round trip through the varint-delta binary format, so
    the delta encoder, the null bitmaps, the .gdbtablx offsets, and
    the field-descriptor round trip are all differentially checked
    bit-for-bit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = cache_dir or _CACHE
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "canon_zones_gdb_truth.parquet")
    if os.path.exists(path):
        return path
    zdf = gen_zones_pdf(CANON_N_ZONES)
    origin, scale = -400.0, 1e9
    recs = []
    for _, z in zdf.iterrows():
        xs = np.asarray(z["xs"], np.float64)
        ys = np.asarray(z["ys"], np.float64)
        qx = np.round((xs - origin) * scale) / scale + origin
        qy = np.round((ys - origin) * scale) / scale + origin
        for vi, (x, y) in enumerate(zip(qx, qy)):
            recs.append({"zone_id": z["zone_id"], "NAME": z["NAME"],
                         "AGBUR": z["AGBUR"],
                         "WILDRNP020": int(z["WILDRNP020"]),
                         "vi": vi, "x": float(x), "y": float(y)})
    tdf = pd.DataFrame(recs)
    tdf["WILDRNP020"] = tdf["WILDRNP020"].astype("int64")
    tdf["vi"] = tdf["vi"].astype("int64")
    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pandas(tdf, preserve_index=False), tmp)
    os.replace(tmp, path)
    return path


def ensure_canon_pds(cache_dir: str | None = None) -> str:
    """Materialize the canonical zones as a PDS3 product (ODL label +
    DETACHED binary table) and return the .lbl path — the fixture for
    the ``pds_source`` driver-contract row (reference
    `fiona/drvsupport.py:110-112` PDS read rows).

    The table is INTERCHANGE_FORMAT = BINARY: CHARACTER fields are
    space-padded ASCII, WILDRNP020 an MSB_INTEGER, and LONGITUDE /
    LATITUDE (each zone's FIRST ring vertex) big-endian IEEE_REAL
    doubles — a bit-exact pass-through, so the oracle is the canonical
    zones parquet itself (``xs[1]``/``ys[1]``).  The ``^TABLE`` pointer
    deliberately uses the detached 1-based ``<BYTES>`` form over a
    32-byte header pad, keeping the r6-advice offset fix
    (`sources/pds.py:195`) contract-verified, not just pytest-verified.

    Authored with raw ``struct`` packing, independent of the reader's
    column slicing/decode paths.
    """
    import struct as _struct

    d = cache_dir or _CACHE
    os.makedirs(d, exist_ok=True)
    lbl_path = os.path.join(d, "canon_zones.lbl")
    tab_path = os.path.join(d, "CANON_ZONES.TAB")
    if os.path.exists(lbl_path) and os.path.exists(tab_path):
        return lbl_path
    zdf = gen_zones_pdf(CANON_N_ZONES)
    id_w = int(zdf["zone_id"].str.len().max())
    name_w = int(zdf["NAME"].str.len().max())
    agbur_w = int(zdf["AGBUR"].str.len().max())
    pad = 32
    rows = []
    for _, z in zdf.iterrows():
        rec = (z["zone_id"].ljust(id_w).encode("ascii")
               + z["NAME"].ljust(name_w).encode("ascii")
               + z["AGBUR"].ljust(agbur_w).encode("ascii")
               + _struct.pack(">q", int(z["WILDRNP020"]))
               + _struct.pack(">d", float(z["xs"][0]))
               + _struct.pack(">d", float(z["ys"][0])))
        rows.append(rec)
    row_bytes = len(rows[0])
    tmp = tab_path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(b"\x00" * pad)
        fh.writelines(rows)
    os.replace(tmp, tab_path)

    def col(name, dtype, start, nbytes):
        return (f"  OBJECT = COLUMN\n"
                f"    NAME = {name}\n"
                f"    DATA_TYPE = {dtype}\n"
                f"    START_BYTE = {start}\n"
                f"    BYTES = {nbytes}\n"
                f"  END_OBJECT = COLUMN\n")

    s = 1
    cols_txt = col("ZONE_ID", "CHARACTER", s, id_w); s += id_w
    cols_txt += col("NAME", "CHARACTER", s, name_w); s += name_w
    cols_txt += col("AGBUR", "CHARACTER", s, agbur_w); s += agbur_w
    cols_txt += col("WILDRNP020", "MSB_INTEGER", s, 8); s += 8
    cols_txt += col("LONGITUDE", "IEEE_REAL", s, 8); s += 8
    cols_txt += col("LATITUDE", "IEEE_REAL", s, 8); s += 8
    label = (
        "PDS_VERSION_ID = PDS3\n"
        "RECORD_TYPE = FIXED_LENGTH\n"
        f"RECORD_BYTES = {row_bytes}\n"
        f"^TABLE = (\"CANON_ZONES.TAB\", {pad + 1} <BYTES>)\n"
        "OBJECT = TABLE\n"
        "  INTERCHANGE_FORMAT = BINARY\n"
        f"  ROWS = {len(rows)}\n"
        f"  ROW_BYTES = {row_bytes}\n"
        f"  COLUMNS = 6\n"
        f"{cols_txt}"
        "END_OBJECT = TABLE\n"
        "END\n")
    tmp = lbl_path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(label)
    os.replace(tmp, lbl_path)
    return lbl_path


def ensure_canon_wkb(cache_dir: str | None = None) -> str:
    """WKB interchange fixture: geometry bytes + ground-truth stats.

    Expected columns are computed from the SOURCE coordinate lists (not
    via the decoder), so the contract query decoding ``wkb`` must
    reproduce them — a differential on the codec.  Quantized integer
    sums (floor(v*1e6)) keep the comparison exact across engines.
    """
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from . import wkb as wkbmod

    import struct

    d = cache_dir or _CACHE
    os.makedirs(d, exist_ok=True)
    # v2: adds ISO curve/TIN/Triangle/M vectors (raw hand-packed bytes,
    # truth from source coordinates — trig-free forms only, so the
    # ground truth never touches the decoder's linearizer)
    path = os.path.join(d, "canon_wkb2.parquet")
    if os.path.exists(path):
        return path
    zdf = gen_zones_multi_pdf(CANON_N_ZONES)
    rows = []
    for j, z in zdf.iterrows():
        rings = []
        for rx, ry in zip(z["rings_xs"], z["rings_ys"]):
            ring = [[float(x), float(y)] for x, y in zip(rx, ry)]
            ring.append(list(ring[0]))           # WKB rings are closed
            rings.append(ring)
        if j % 3 == 0 and len(rings) > 1:        # exercise MultiPolygon
            g = {"type": "MultiPolygon", "coordinates": [[r] for r in rings]}
        else:
            g = {"type": "Polygon", "coordinates": rings}
        flat = [p for ring in rings for p in ring]
        rows.append({
            "gid": f"g{j:04d}",
            "wkb": wkbmod.encode(g),
            "geom_type": g["type"],
            "n_rings": len(rings),
            "n_pts": len(flat),
            "qsum_x": sum(int(math.floor(p[0] * 1e6)) for p in flat),
            "qsum_y": sum(int(math.floor(p[1] * 1e6)) for p in flat),
        })

    # --- ISO normalization vectors (fiona/_geometry.pyx:211-263):
    # raw bytes packed here by hand, never via wkb.encode
    def _hdr(code):
        return struct.pack("<BI", 1, code)

    def _pts(coords):
        import numpy as _np
        arr = _np.asarray(coords, dtype="<f8")
        return struct.pack("<I", arr.shape[0]) + arr.tobytes()

    def _truth(gid, raw, gtype, ring_pts):
        flat = [p for ring in ring_pts for p in ring]
        return {
            "gid": gid, "wkb": raw, "geom_type": gtype,
            "n_rings": len(ring_pts), "n_pts": len(flat),
            "qsum_x": sum(int(math.floor(p[0] * 1e6)) for p in flat),
            "qsum_y": sum(int(math.floor(p[1] * 1e6)) for p in flat)}

    tri_ring = [[10.5, -3.0], [12.0, -3.0], [10.5, -1.5], [10.5, -3.0]]
    tri_raw = _hdr(17) + struct.pack("<I", 1) + _pts(tri_ring)
    rows.append(_truth("iso_triangle", tri_raw, "Polygon", [tri_ring]))

    tin_raw = _hdr(16) + struct.pack("<I", 2) + tri_raw + tri_raw
    rows.append(_truth("iso_tin", tin_raw, "MultiPolygon",
                       [tri_ring, tri_ring]))

    # PointM (2001): M ordinate parsed then dropped
    pm_raw = _hdr(2001) + struct.pack("<3d", 33.25, 7.75, 99.0)
    rows.append(_truth("iso_point_m", pm_raw, "Point", [[[33.25, 7.75]]]))

    # LineStringZM (3002): -> 3D, qsums over x/y only
    lzm = [[1.5, 2.25, 5.0, 9.0], [3.5, 4.75, 6.0, 9.0]]
    lzm_raw = _hdr(3002) + _pts(lzm)
    rows.append(_truth("iso_line_zm", lzm_raw, "LineString",
                       [[[p[0], p[1]] for p in lzm]]))

    # COLLINEAR CircularString (8): degenerate arcs linearize to the
    # original chords — truth is the source vertex list, no trig
    cs = [[0.5, 0.5], [1.5, 1.5], [2.5, 2.5]]
    cs_raw = _hdr(8) + _pts(cs)
    rows.append(_truth("iso_circ_collinear", cs_raw, "LineString", [cs]))

    # CompoundCurve (9) of line + collinear arc, joint deduplicated
    cc_raw = (_hdr(9) + struct.pack("<I", 2)
              + _hdr(2) + _pts([[0.0, 0.0], [2.0, 0.25]])
              + _hdr(8) + _pts([[2.0, 0.25], [3.0, 0.375], [4.0, 0.5]]))
    rows.append(_truth("iso_compound", cc_raw, "LineString",
                       [[[0.0, 0.0], [2.0, 0.25], [3.0, 0.375],
                         [4.0, 0.5]]]))

    pdf = pd.DataFrame(rows)
    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
    os.replace(tmp, path)
    return path


def ensure_canon_csv(cache_dir: str | None = None) -> str:
    """CSV attribute-table fixture (driver registry coverage)."""
    import csv

    d = cache_dir or _CACHE
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "canon_zones.csv")
    if os.path.exists(path):
        return path
    zdf = gen_zones_pdf(CANON_N_ZONES)
    tmp = path + ".tmp"
    with open(tmp, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["zone_id", "NAME", "AGBUR", "WILDRNP020"])
        for _, z in zdf.iterrows():
            w.writerow([z["zone_id"], z["NAME"], z["AGBUR"], z["WILDRNP020"]])
    os.replace(tmp, path)
    return path


def ensure_canon_multi(cache_dir: str | None = None) -> str:
    """Materialize the canonical MULTI-RING zone fixture; return path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = cache_dir or _CACHE
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "canon_zones_multi.parquet")
    if not os.path.exists(path):
        zdf = gen_zones_multi_pdf(CANON_N_ZONES)
        tmp = path + ".tmp"
        pq.write_table(pa.Table.from_pandas(zdf, preserve_index=False), tmp)
        os.replace(tmp, path)
    return path


def _rfc3339_truth(text: str):
    """Independent ground-truth parse for the datetime fixture: the
    reference's tuple semantics (fiona/rfc3339.py:89-122) computed with
    a digit scanner, NOT the engine's Spark regex — so the contract
    query is a true differential.  Returns (y, m, d, hh, mm, ss, us,
    tz_min | None)."""
    i, n = 0, len(text)

    def digits(k):
        nonlocal i
        s = text[i:i + k]
        if len(s) == k and s.isdigit():
            i += k
            return int(s)
        return None

    def sep(chars):
        nonlocal i
        if i < n and text[i] in chars:
            i += 1

    y = digits(4)
    sep("-")
    mo = digits(2)
    sep("-")
    d = digits(2)
    sep("T")
    hh = digits(2)
    sep(":")
    mi = digits(2)
    sep(":")
    ss = digits(2) or 0
    us = 0
    if i < n and text[i] == ".":
        j = i + 1
        while j < n and text[j].isdigit():
            j += 1
        us = int((text[i + 1:j] + "000000")[:6])
        i = j
    tz = None
    if i < n and text[i] in "+-":
        sign = -1 if text[i] == "-" else 1
        i += 1
        a = digits(2)
        sep(":")
        b = digits(2)
        if b is None:            # the '+05' backtrack quirk: 2 digits
            a, b = 0, a          # alone bind to the MINUTES group
        tz = sign * ((a or 0) * 60 + (b or 0))
    # trailing Z: reference leaves tz unknown (tests/test_rfc3339.py:34)
    return y, mo, d, hh, mi, ss, us, tz


def ensure_canon_datetime(cache_dir: str | None = None) -> str:
    """Mixed-timezone RFC3339 fixture + ground truth (tz matrix of
    fiona/ogrext.pyx:480-547: 15-minute codes, GMT normalization).

    Truth columns (y..us, tzm nullable, tzc, gmt) are derived from the
    SOURCE strings with ``_rfc3339_truth`` + stdlib datetime, never via
    the engine.
    """
    import datetime as _dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = cache_dir or _CACHE
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "canon_datetime.parquet")
    if os.path.exists(path):
        return path
    forms = [
        "2012-01-29T10:11:12",            # naive
        "2012-01-29T10:11:12Z",           # Z -> unknown zone (quirk)
        "2012-01-29T10:11:12+01:30",      # +90 min -> code 106
        "2012-01-29T10:11:12-01:30",      # -90 min -> code 94
        "2018-03-25T01:02:03.456789+05:45",   # Nepal, 15-min code 123
        "2018-03-25T01:02:03.42-03:45",   # code 85
        "20200129T1011",                  # compact, no seconds
        "1999-12-31T23:59:59+00:15",      # code 101
        "1999-12-31T23:59:59-00:15",      # code 99
        "2005-06-07T08:09:10+05",         # 2-digit offset = 5 MINUTES
        "2005-06-07T08:09:10+0530",       # +330 min -> code 122
        "2021-11-05T00:10:00-11:00",      # day-crossing GMT shift
    ]
    rows = []
    for k in range(60):
        text = forms[k % len(forms)]
        # vary the day so rows are distinct (keep two digits valid)
        text = text[:8] + f"{10 + (k // len(forms)) * 4:02d}" + text[10:] \
            if text[4] == "-" else text
        y, mo, dd, hh, mi, ss, us, tzm = _rfc3339_truth(text)
        base = _dt.datetime(y, mo, dd, hh, mi, ss, us)
        gmt_dt = base - _dt.timedelta(minutes=tzm or 0)
        gmt = gmt_dt.strftime("%Y-%m-%dT%H:%M:%S")
        if us:
            gmt += f".{us:06d}"
        if tzm is not None:
            gmt += "Z"
        rows.append({
            "rid": k, "dt_str": text, "y": y, "mo": mo, "dd": dd,
            "hh": hh, "mi": mi, "ss": ss, "us": us,
            "tzm": tzm, "tzc": int(tzm / 15.0 + 100) if tzm is not None else 0,
            "gmt": gmt})
    pdf = pd.DataFrame(rows)
    pdf["tzm"] = pdf["tzm"].astype("Int32")
    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
    os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# scaling-corpus fixtures (r7): million-row deduplication inputs for the
# dedup/LSH lanes of scripts/bench_scaling.py.  All three generate
# DISTRIBUTED (spark.range + codegen'd xxhash64 arithmetic — no driver
# loop, so a 10^6..10^9-row corpus materializes at cluster speed) and
# deterministically (every value is a pure function of seed literals and
# the row id), then cache as parquet under .fixtures/ like every other
# fixture.
# ---------------------------------------------------------------------------

def _scaling_vocab(n_words: int = 4096) -> list:
    """Deterministic lowercase vocabulary (seed 42, 3-8 letters)."""
    rng = np.random.default_rng(42)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(letters[rng.integers(0, 26, int(rng.integers(3, 9)))])
            for _ in range(n_words)]


def docs_corpus_path(spark, n_docs: int, dup_frac: float = 0.1,
                     cache_dir: str | None = None) -> str:
    """Synthetic document corpus with a known near-duplicate structure.

    The first ``(1-dup_frac)*n`` ids are base documents (12-20 words
    drawn from a 4096-word vocabulary by codegen'd xxhash64); the rest
    are near-duplicates — a pseudo-random base with ONE word swapped —
    so MinHash banding has real pairs to find (3-shingle Jaccard of a
    dup against its base lands ~0.55-0.85) while ~90% of docs stay
    unique.  Whole generation is one codegen'd projection over
    ``spark.range``: the vocabulary rides as an array literal, word
    indices are xxhash64 of (seed, base, position).
    """
    from pyspark.sql import functions as F

    d = cache_dir or _CACHE
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"docs_corpus_{n_docs}.parquet")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    n_base = n_docs - int(n_docs * dup_frac)
    vocab_sql = "array(" + ",".join(
        f"'{w}'" for w in _scaling_vocab()) + ")"
    base = (f"CASE WHEN id < {n_base} THEN id "
            f"ELSE pmod(xxhash64('d', id), {n_base}) END")
    nw = "CAST(pmod(xxhash64('n', _base), 9) + 12 AS INT)"
    mpos = (f"CASE WHEN id < {n_base} THEN -1 "
            "ELSE CAST(pmod(xxhash64('m', id), _nw) AS INT) END")
    widx = ("CASE WHEN i = _mpos THEN pmod(xxhash64('x', id, i), 4096) "
            "ELSE pmod(xxhash64('w', _base, i), 4096) END")
    parts = max(32, int(spark.conf.get("spark.sql.shuffle.partitions",
                                       "32")))
    (spark.range(0, n_docs, 1, parts)
        .withColumn("_base", F.expr(base))
        .withColumn("_nw", F.expr(nw))
        .withColumn("_mpos", F.expr(mpos))
        .select(F.col("id").alias("doc_id"),
                F.expr(
                    "array_join(transform(sequence(0, _nw - 1), i -> "
                    f"element_at({vocab_sql}, CAST({widx} AS INT) + 1)), "
                    "' ')").alias("text"))
        .write.mode("overwrite").parquet(path))
    return path


def emb_corpus_path(spark, n_vecs: int, dim: int = 64,
                    dup_frac: float = 0.1,
                    cache_dir: str | None = None) -> str:
    """Synthetic embedding corpus, same dup structure as
    :func:`docs_corpus_path`: base vectors are uniform in [-1, 1]^dim
    (xxhash64-derived, exactly quantizable by the engine's floor(x*1000)
    convention), near-duplicates perturb a base by <=0.005 per axis —
    cosine ~0.9999 against the base, ~0 against everything else."""
    from pyspark.sql import functions as F

    d = cache_dir or _CACHE
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"emb_corpus_{n_vecs}_{dim}.parquet")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    n_base = n_vecs - int(n_vecs * dup_frac)
    base = (f"CASE WHEN id < {n_base} THEN id "
            f"ELSE pmod(xxhash64('e', id), {n_base}) END")
    val = ("(CAST(pmod(xxhash64('v', _base, i), 2001) AS DOUBLE) - 1000.0)"
           " / 1000.0")
    pert = (f"CASE WHEN id < {n_base} THEN 0.0 "
            "ELSE (CAST(pmod(xxhash64('p', id, i), 201) AS DOUBLE) - 100.0)"
            " / 20000.0 END")
    parts = max(32, int(spark.conf.get("spark.sql.shuffle.partitions",
                                       "32")))
    (spark.range(0, n_vecs, 1, parts)
        .withColumn("_base", F.expr(base))
        .select(F.col("id").alias("vec_id"),
                F.expr(f"transform(sequence(0, {dim - 1}), "
                       f"i -> {val} + {pert})").alias("embedding"))
        .write.mode("overwrite").parquet(path))
    return path


def chain_pairs_path(spark, n_nodes: int, chain_len: int = 16,
                     cache_dir: str | None = None) -> str:
    """Edge list of ``n_nodes/chain_len`` disjoint chains — the
    connected-components scaling input.  Chains give the label
    propagation real multi-round work (a star graph converges in one
    round); ``chain_len=16`` needs ~log2(16) pointer-doubling rounds,
    each a full shuffle over the edge set."""
    from pyspark.sql import functions as F

    d = cache_dir or _CACHE
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"chain_pairs_{n_nodes}_{chain_len}.parquet")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    parts = max(32, int(spark.conf.get("spark.sql.shuffle.partitions",
                                       "32")))
    (spark.range(0, n_nodes, 1, parts)
        .filter(F.expr(f"id % {chain_len} != {chain_len - 1}"))
        .select(F.col("id").alias("id_a"),
                (F.col("id") + 1).alias("id_b"))
        .write.mode("overwrite").parquet(path))
    return path
