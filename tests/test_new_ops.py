"""Tests for checkpoint/lineage, image payload ops, snuggs, geometry UDFs."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fiona_spark import checkpoint, codec, fixtures, geom, snuggs

from .test_kernels import (_decode_reference, _encode_reference,
                           _phash_reference, _psnr_reference)

N_IMG = 300
N_ZONES = 40


@pytest.fixture(scope="module")
def images_pdf():
    return fixtures.gen_images_pdf(0, N_IMG)


@pytest.fixture(scope="module")
def images(spark, images_pdf):
    return spark.createDataFrame(images_pdf, schema=fixtures.IMAGES_SCHEMA).cache()


@pytest.fixture(scope="module")
def zones(spark):
    return spark.createDataFrame(fixtures.gen_zones_pdf(N_ZONES),
                                 schema=fixtures.ZONES_SCHEMA).cache()


# ---------------------------------------------------------------------------
# checkpoint / lineage / resume
# ---------------------------------------------------------------------------

def test_checkpoint_commit_and_resume(spark, images, tmp_path):
    out = str(tmp_path / "ckpt")
    from fiona_spark.operators import spatial
    df = spatial.with_point_cell(
        images.select("image_id", "lng", "lat"), 6).withColumn(
        "shard", F.expr("cell % 8"))

    man1 = checkpoint.run_checkpointed(df, out, "shard")
    assert man1["rows"].sum() == N_IMG
    assert set(man1["status"]) == {"committed"}
    assert (man1["cell_min"] <= man1["cell_max"]).all()
    n_shards = len(man1)

    # resume: nothing left to do -> no new manifests, same rows
    man2 = checkpoint.run_checkpointed(df, out, "shard")
    assert len(man2) == n_shards
    assert man2["rows"].sum() == N_IMG

    # partial resume: drop one manifest, rerun -> only that shard redone
    victim = sorted(checkpoint.committed_shards(out))[0]
    os.remove(os.path.join(checkpoint.manifest_dir(out), f"{victim}.json"))
    man3 = checkpoint.run_checkpointed(df, out, "shard")
    assert len(man3) == n_shards
    back = checkpoint.read_checkpointed(spark, out)
    assert back.count() == N_IMG
    assert back.select("image_id").distinct().count() == N_IMG


# ---------------------------------------------------------------------------
# image payload ops
# ---------------------------------------------------------------------------

def test_verify_roundtrip_gates(spark, images, images_pdf):
    from fiona_spark.operators import images as iops
    out = iops.verify_roundtrip(images).toPandas()
    assert len(out) == N_IMG
    assert out["ok"].all()
    assert out["phash_match"].all()
    lossless = out[out["fmt"].isin(["raw", "rle"])]
    assert lossless["lossless_exact"].all()
    lossy = out[out["fmt"] == "q6"]
    assert (lossy["psnr_db"] >= 40.0).all()


def test_q4_fails_psnr_gate():
    """The 4-bit format is the below-gate negative control (~34 dB)."""
    img = fixtures.gen_image(1)
    px = codec.decode(img["bytes"], img["fmt"], img["w"], img["h"])
    q4 = codec.decode(codec.encode(px, "q4"), "q4", img["w"], img["h"])
    assert codec.psnr(px, q4) < 40.0


def test_verify_roundtrip_exact_per_row(spark, images, images_pdf):
    """Every row's lossless_exact, psnr_db, phash_match and ok equal the
    scalar spec references with ``==``."""
    from fiona_spark.operators import images as iops
    got = iops.verify_roundtrip(images).toPandas().set_index("image_id")
    assert len(got) == N_IMG
    for row in images_pdf.itertuples():
        img = _decode_reference(row.bytes, row.fmt, row.w, row.h)
        rt = _decode_reference(_encode_reference(img, row.fmt), row.fmt,
                               row.w, row.h)
        exact, p = np.array_equal(img, rt), _psnr_reference(img, rt)
        ph_ok = _phash_reference(img) == row.phash
        g = got.loc[row.image_id]
        assert (g["fmt"], g["lossless_exact"], g["psnr_db"], g["phash_match"]) \
            == (row.fmt, exact, min(p, 999.0), ph_ok)
        assert g["ok"] == ((exact or (row.fmt in codec.LOSSY and p >= 40.0))
                           and ph_ok)


def test_decode_stats_matches_pandas(spark, images, images_pdf):
    """All five stats of every row equal the float64 per-image formulas
    over the scalar spec decode, with ``==``."""
    from fiona_spark.operators import images as iops
    got = iops.decode_stats(images).toPandas().set_index("image_id")
    assert len(got) == N_IMG
    for row in images_pdf.itertuples():
        f = _decode_reference(row.bytes, row.fmt, row.w, row.h).astype(np.float64)
        want = (row.w * row.h, f[:, :, 0].mean(), f[:, :, 1].mean(),
                f[:, :, 2].mean(), float(np.median(f.mean(axis=2))))
        g = got.loc[row.image_id]
        assert tuple(g[["n_px", "mean_r", "mean_g", "mean_b", "lum_p50"]]) == want


ODD_SHAPE_SCHEMA = ("image_id string, bytes binary, fmt string, w int, h int, "
                    "xmin double, ymin double, xmax double, ymax double")


def odd_shape_images(spark):
    """Shapes the fixture never produces (1x1, 3x5, 37x23, 7x9: odd
    pixel counts, partial blocks, no whole block), each in raw, rle and
    q6, mixed in ONE partition so one Arrow batch holds every format.
    Returns (frame, rows)."""
    rng = np.random.default_rng(11)
    rows = []
    for w, h in ((1, 1), (3, 5), (37, 23), (7, 9)):
        for fmt in ("raw", "rle", "q6"):
            for k in range(2):
                img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
                if k:       # long runs, so rle splits at 255
                    img[: h // 2] = 200
                x0, y0 = rng.uniform(-170, 160), rng.uniform(-80, 70)
                rows.append((f"{w}x{h}_{fmt}_{k}", codec.encode(img, fmt), fmt,
                             w, h, x0, y0, x0 + 1.5, y0 + 0.75))
    return spark.createDataFrame(rows, ODD_SHAPE_SCHEMA).coalesce(1), rows


def test_decode_stats_odd_shapes_mixed_formats(spark):
    """Odd ``n_px`` (the single middle rank of the median) on shapes the
    fixture lacks, raw/rle/q6 in one batch: every stat ``==`` the
    float64 per-image formulas over the scalar spec decode."""
    from fiona_spark.operators import images as iops
    df, rows = odd_shape_images(spark)
    got = iops.decode_stats(df).toPandas().set_index("image_id")
    assert len(got) == len(rows)
    for iid, data, fmt, w, h, *_ in rows:
        f = _decode_reference(data, fmt, w, h).astype(np.float64)
        want = (w * h, f[:, :, 0].mean(), f[:, :, 1].mean(),
                f[:, :, 2].mean(), float(np.median(f.mean(axis=2))))
        g = got.loc[iid]
        assert tuple(g[["n_px", "mean_r", "mean_g", "mean_b", "lum_p50"]]) == want


@pytest.mark.parametrize("fmt", ["raw", "rle", "q6", "q4"])
def test_decode_stats_rejects_truncated_payload(spark, fmt):
    """A payload one byte short fails the Spark job with the codec's
    message (fmt, w x h, got vs expected bytes), on every format."""
    from fiona_spark.operators import images as iops
    img = np.random.default_rng(5).integers(0, 256, (8, 8, 3), dtype=np.uint8)
    data = codec.encode(img, fmt)[:-1]
    df = spark.createDataFrame(
        [("imgGOOD", codec.encode(img, fmt), fmt, 8, 8),
         ("imgBAD", data, fmt, 8, 8)],
        "image_id string, bytes binary, fmt string, w int, h int")
    with pytest.raises(Exception,
                       match=f"{fmt} payload declared 8x8: got {len(data)} bytes"):
        iops.decode_stats(df).collect()


def _with_null(images, col, image_id):
    return images.withColumn(col, F.when(F.col("image_id") == image_id, None)
                             .otherwise(F.col(col)))


def test_payload_ops_reject_null_rows(spark, images):
    """decode_stats / verify_roundtrip / resize raise a ValueError naming
    the image whose payload, fmt, w or h is null."""
    from fiona_spark.operators import images as iops
    sub = images.filter("image_id < 'img0000000006'")
    bad = "img0000000003"
    cases = [(op, "bytes") for op in (iops.decode_stats, iops.verify_roundtrip,
                                      lambda df: iops.resize(df, 8, 8))]
    cases += [(iops.decode_stats, c) for c in ("fmt", "w", "h")]
    for op, col in cases:
        with pytest.raises(Exception, match=f"w or h for image_id '{bad}'"):
            op(_with_null(sub, col, bad)).collect()


def test_caption_check_detects_mismatch(spark, images):
    from fiona_spark.operators import images as iops
    ref = images.select("image_id", "caption")
    ok = iops.caption_check(images, ref).toPandas()
    assert ok["caption_ok"].all()
    bad = images.select(
        "image_id",
        F.when(F.col("image_id") == "img0000000003", F.lit("WRONG"))
        .otherwise(F.col("caption")).alias("caption"))
    out = iops.caption_check(images, bad).toPandas().set_index("image_id")
    assert not out.loc["img0000000003", "caption_ok"]
    assert out["caption_ok"].sum() == N_IMG - 1


def test_phash_hamming_pairs_finds_duplicate(spark, images_pdf):
    from fiona_spark.operators import images as iops
    from fiona_spark.session import get_spark
    spark = get_spark()
    # plant an exact duplicate payload under a new id
    dup = images_pdf.iloc[[7]].assign(image_id=["imgDUPLICATE"])
    pdf = pd.concat([images_pdf, dup], ignore_index=True)
    df = spark.createDataFrame(pdf, schema=fixtures.IMAGES_SCHEMA)
    pairs = iops.phash_hamming_pairs(df, max_dist=0).toPandas()
    keys = set(map(tuple, pairs[["image_id", "image_id_b"]].itertuples(index=False)))
    assert (images_pdf.iloc[7]["image_id"], "imgDUPLICATE") in keys


def test_resize_shapes(spark, images):
    from fiona_spark.operators import images as iops
    out = iops.resize(images.limit(10), 8, 8).toPandas()
    assert (out["w"] == 8).all() and (out["h"] == 8).all()
    assert all(len(b) == 8 * 8 * 3 for b in out["bytes"])


def test_resize_unknown_fmt_raises(spark, images):
    from fiona_spark.operators import images as iops
    from py4j.protocol import Py4JJavaError
    bad = images.limit(1).withColumn("fmt", F.lit("jpeg"))
    with pytest.raises(Exception) as ei:
        iops.resize(bad, 8, 8).collect()
    assert "NotImplementedError" in str(ei.value) or "image library" in str(ei.value)


# ---------------------------------------------------------------------------
# snuggs expression compiler
# ---------------------------------------------------------------------------

def test_snuggs_arith_and_compare(spark, zones):
    got = snuggs.filter_features(zones, "(> AREA 2)").count()
    exp = zones.filter(F.col("AREA") > 2).count()
    assert got == exp and 0 < got < N_ZONES


def test_snuggs_get_and_logic(spark, zones):
    expr = "(& (> (get f \"AREA\") 1) (< WILDRNP020 30))"
    got = snuggs.filter_features(zones, expr).count()
    exp = zones.filter((F.col("AREA") > 1) & (F.col("WILDRNP020") < 30)).count()
    assert got == exp


def test_snuggs_truth_null(spark, zones):
    # FEATURE2 is null every 7th zone in the fixture
    got = snuggs.filter_features(zones, "(not (truth FEATURE2))").count()
    exp = zones.filter(F.col("FEATURE2").isNull()).count()
    assert got == exp and exp > 0


def test_snuggs_geometry_funcs(spark, zones):
    got = snuggs.filter_features(zones, "(< (area g) 5)").count()
    zp = zones.toPandas()
    exp = sum(geom.shoelace_area(np.array(r["xs"]), np.array(r["ys"])) < 5
              for _, r in zp.iterrows())
    assert got == exp


def test_snuggs_distance_point(spark, images):
    expr = "(< (distance g (Point 10.0 45.0)) 30)"
    got = snuggs.filter_features(images, expr).count()
    exp = images.filter(
        F.sqrt((F.col("lng") - 10.0) ** 2 + (F.col("lat") - 45.0) ** 2) < 30).count()
    assert got == exp and got > 0


def test_snuggs_calc_refuses_overwrite(spark, zones):
    with pytest.raises(snuggs.ExpressionError):
        snuggs.calc_feature(zones, "AREA", "(* AREA 2)")
    out = snuggs.calc_feature(zones, "AREA2", "(* AREA 2)")
    row = out.select("AREA", "AREA2").first()
    assert row["AREA2"] == row["AREA"] * 2


def test_snuggs_parse_errors():
    for bad in ["(", "(+ 1 2", "(unknownfn 1)", ""]:
        with pytest.raises(snuggs.ExpressionError):
            snuggs.compile_expr(bad)


# ---------------------------------------------------------------------------
# geometry function library
# ---------------------------------------------------------------------------

def test_geometry_udfs_match_kernels(spark, zones):
    from fiona_spark.functions import geometry as gf
    from fiona_spark.schema import with_rings
    out = (with_rings(zones).select(
               "zone_id", "xs", "ys",
               gf.area_udf()(*gf.RING_ARGS).alias("a"),
               gf.length_udf()(*gf.RING_ARGS).alias("l"),
               gf.vertex_count().alias("nv"))
           .toPandas().set_index("zone_id"))
    zp = zones.toPandas().set_index("zone_id")
    for zid in ["z000001", "z000013"]:
        xs = np.array(zp.loc[zid, "xs"]); ys = np.array(zp.loc[zid, "ys"])
        assert out.loc[zid, "a"] == pytest.approx(geom.shoelace_area(xs, ys))
        assert out.loc[zid, "l"] == pytest.approx(geom.ring_length(xs, ys))
        assert out.loc[zid, "nv"] == len(xs)


def test_transform_udf_roundtrip(spark, images):
    from fiona_spark.functions import geometry as gf
    fwd = gf.transform_udf("EPSG:4326", "EPSG:6933")
    inv = gf.transform_udf("EPSG:6933", "EPSG:4326")
    out = (images.limit(50)
           .withColumn("p", fwd("lng", "lat"))
           .withColumn("q", inv(F.col("p.x"), F.col("p.y")))
           .select("lng", "lat", "q.x", "q.y").toPandas())
    assert np.allclose(out["lng"], out["x"], atol=1e-9)
    assert np.allclose(out["lat"], out["y"], atol=1e-9)


def test_simplify_reduces_vertices(spark, zones):
    from fiona_spark.functions import geometry as gf
    from fiona_spark.schema import with_rings
    out = (with_rings(zones)
           .select(F.size("xs").alias("n0"),
                   gf.simplify_udf(0.5)(*gf.RING_ARGS).alias("s"))
           .select("n0", F.size(F.get("s.rings_xs", 0)).alias("n1"))
           .toPandas())
    assert (out["n1"] <= out["n0"]).all()
    assert (out["n1"] >= 2).all()


def test_register_all_sql(spark, zones):
    from fiona_spark.functions import geometry as gf
    from fiona_spark.schema import with_rings
    gf.register_all(spark)
    with_rings(zones).createOrReplaceTempView("zones_v")
    row = spark.sql(
        "SELECT fs_area(geom_type, rings_xs, rings_ys) AS a, "
        "fs_vertex_count(rings_xs) AS nv, size(xs) AS n "
        "FROM zones_v WHERE zone_id = 'z000001'").first()
    assert row["a"] > 0 and row["nv"] >= 8 and row["nv"] == row["n"]


def test_slice_matches_python_semantics_including_negative_step(spark):
    """slice_rows == list slicing over the ordered key, all sign cases
    (negative step is the r1 'missing' #7)."""
    import numpy as np
    import pandas as pd

    from fiona_spark.operators import filters as fl
    pdf = pd.DataFrame({"k": np.random.default_rng(1).permutation(2000)})
    df = spark.createDataFrame(pdf)
    seq = sorted(pdf["k"])
    for a, b, s in [(100, 1000, 7), (None, None, None), (-50, None, 3),
                    (None, -10, 2), (None, None, -1), (1500, 200, -13),
                    (-1, -1500, -7), (10, 5, 1),
                    (-5000, None, -7),   # start underflow + neg step: empty
                    (-5000, None, 7)]:   # start underflow + pos step: all
        got = sorted(r["k"] for r in fl.slice_rows(df, a, b, s, "k").collect())
        assert got == sorted(seq[slice(a, b, s)]), (a, b, s)


def test_frame_sample_deterministic_and_exact(spark):
    """Video frame sampling: uniform deterministic indices, bytes
    identical to the source frame slices (rawv engine format)."""
    import numpy as np
    import pandas as pd

    from fiona_spark.operators import media
    rng = np.random.default_rng(21)
    rows = []
    truth = {}
    for v in range(4):
        w, h, nf = 8, 6, 10 + v
        frames = rng.integers(0, 256, (nf, h * w * 3), dtype=np.uint8)
        rows.append({"video_id": f"v{v}", "bytes": frames.tobytes(),
                     "fmt": "rawv", "n_frames": nf, "w": w, "h": h})
        truth[f"v{v}"] = frames
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = media.frame_sample(df, k=4).toPandas()
    assert len(out) == 16
    for _, r in out.iterrows():
        frames = truth[r["video_id"]]
        nf = len(frames)
        assert r["frame_idx"] in {(i * nf) // 4 for i in range(4)}
        assert bytes(r["bytes"]) == frames[r["frame_idx"]].tobytes()
        assert r["mean_lum"] == float(frames[r["frame_idx"]].mean())
    # external codec is a declared stub
    bad = spark.createDataFrame(pd.DataFrame([{
        "video_id": "x", "bytes": b"", "fmt": "h264",
        "n_frames": 1, "w": 1, "h": 1}]))
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    with _pytest.raises(Exception):
        media.frame_sample(bad).collect()


def test_audio_windows_match_numpy(spark):
    import numpy as np
    import pandas as pd

    from fiona_spark.operators import media
    rng = np.random.default_rng(33)
    x = (rng.standard_normal(50_000) * 5000).astype("<i2")
    df = spark.createDataFrame(pd.DataFrame([{
        "audio_id": "a0", "bytes": x.tobytes(), "fmt": "pcm16",
        "sample_rate": 16000}]))
    out = (media.audio_windows(df, window_samples=16000).toPandas()
           .sort_values("win_idx").reset_index(drop=True))
    assert len(out) == 3          # 50k samples -> 3 full windows
    m = x[:48000].astype(np.float64).reshape(3, 16000)
    want_rms = np.sqrt((m * m).mean(axis=1))
    assert np.allclose(out["rms"].values, want_rms)
    assert (out["peak"].values == np.abs(m).max(axis=1)).all()
