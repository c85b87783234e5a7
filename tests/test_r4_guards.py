"""Round-4 advice guards: each test plants the exact degenerate input
the r3 advice called out (empty ring in the edge packer, hole sharing a
vertex with its shell, truncated rawv payload, string-id empty pair
set, non-'T' datetime separators) and asserts the fixed behavior.
"""

import numpy as np
import pandas as pd
import pytest

from fiona_spark import geom
from fiona_spark.operators import dedup, media

from .test_kernels import _pip_reference, union_area


def test_pack_feature_edges_skips_empty_rings():
    """A zero-length ring between two squares must not corrupt the
    previous ring's closing edge (r3 advice, medium)."""
    sq1 = ([0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0])
    sq2 = ([4.0, 5.0, 5.0, 4.0], [4.0, 4.0, 5.0, 5.0])
    offs, x0, y0, x1, y1 = geom.pack_feature_edges(
        [[sq1[0], [], sq2[0]]], [[sq1[1], [], sq2[1]]])
    # closing edge of square 1 ends back at its first vertex (0, 0),
    # not at square 2's first vertex (the corruption the roll caused)
    assert (x1[3], y1[3]) == (0.0, 0.0)
    assert (x1[7], y1[7]) == (4.0, 4.0)
    # parity against the same feature without the empty ring
    offs2, a0, b0, a1, b1 = geom.pack_feature_edges(
        [[sq1[0], sq2[0]]], [[sq1[1], sq2[1]]])
    assert np.array_equal(x0, a0) and np.array_equal(x1, a1)
    assert np.array_equal(y0, b0) and np.array_equal(y1, b1)
    # PIP result unchanged: point inside sq1, outside gap
    inside = geom.points_in_edges_packed(
        np.array([0.5, 2.0]), np.array([0.5, 2.0]), np.array([0, 0]),
        offs, x0, y0, x1, y1)
    assert list(inside) == [True, False]


def test_ring_interior_point_concave():
    """Interior-point probe lands strictly inside concave rings."""
    # L-shape (concave)
    xs = np.array([0.0, 4.0, 4.0, 1.0, 1.0, 0.0])
    ys = np.array([0.0, 0.0, 1.0, 1.0, 4.0, 4.0])
    cx, cy = geom._ring_interior_point(xs, ys)
    assert _pip_reference(
        np.array([cx]), np.array([cy]), xs, ys)[0]
    assert not geom._on_ring_boundary(cx, cy, xs, ys)


def test_feature_union_hole_sharing_vertex_with_shell():
    """A hole that shares a vertex with its outer shell must classify
    as depth-1 (hole), not flip orientation (r3 advice: the old
    first-vertex probe was parity-dependent on-boundary)."""
    shell = ([0.0, 10.0, 10.0, 0.0], [0.0, 0.0, 10.0, 10.0])
    # hole touching the shell at (0, 0)
    hole = ([0.0, 3.0, 3.0], [0.0, 1.0, 3.0])
    try:
        rx, ry = geom.feature_union([[shell[0], hole[0]]],
                                    [[shell[1], hole[1]]])
    except geom.UnionDegeneracyError:
        return  # loud fallback is acceptable; silent corruption is not
    # if it resolves, the hole must subtract area: |shell| - |hole|
    area = 0.0
    for xs, ys in zip(rx, ry):
        xs = np.asarray(xs); ys = np.asarray(ys)
        area += 0.5 * float(np.sum(xs * np.roll(ys, -1)
                                   - np.roll(xs, -1) * ys))
    assert area == pytest.approx(100.0 - 3.0)


def test_frame_sample_truncated_payload_raises(spark):
    """A rawv payload shorter than n_frames*w*h*3 errors loudly
    instead of emitting plausible zero-luminance rows (r3 advice)."""
    ok = np.arange(2 * 2 * 2 * 3, dtype=np.uint8).tobytes()
    df = spark.createDataFrame(
        [("v0", ok[: len(ok) // 2], "rawv", 2, 2, 2)],
        "video_id string, bytes binary, fmt string, n_frames int, "
        "w int, h int")
    with pytest.raises(Exception, match="truncated|payload"):
        media.frame_sample(df, k=2).collect()


def test_frame_sample_vectorized_luminance_byte_exact(spark):
    """Vectorized per-video luminance stays byte-exact with a numpy
    per-frame oracle."""
    rng = np.random.default_rng(7)
    nf, w, h = 5, 3, 2
    buf = rng.integers(0, 256, nf * w * h * 3, dtype=np.uint8)
    df = spark.createDataFrame(
        [("v1", buf.tobytes(), "rawv", nf, w, h)],
        "video_id string, bytes binary, fmt string, n_frames int, "
        "w int, h int")
    rows = {r["frame_idx"]: r
            for r in media.frame_sample(df, k=3).collect()}
    fb = w * h * 3
    sel = (np.arange(3) * nf) // 3
    for fi in sel:
        fr = buf[fi * fb:(fi + 1) * fb]
        assert rows[int(fi)]["bytes"] == fr.tobytes()
        assert rows[int(fi)]["mean_lum"] == pytest.approx(float(fr.mean()))


def test_connected_groups_empty_schema_matches_id_type(spark):
    """Empty pair sets yield a (string, string) frame when ids are
    strings, so downstream joins do not fail only on the empty path."""
    pairs = spark.createDataFrame([], "id_a string, id_b string")
    out = dedup.connected_groups(pairs)
    assert [f.dataType.simpleString() for f in out.schema.fields] == \
        ["string", "string"]
    assert out.count() == 0
    # and join-compat against a string-id corpus
    docs = spark.createDataFrame([("a", 1)], "doc_id string, v int")
    assert dedup.apply_dedup(docs, out).count() == 1


def test_datetime_separator_reference_parity(spark):
    """Space/'t' separated datetimes are OUT of reference scope
    (fiona/rfc3339.py:15 matches only 'T'): the engine must not parse
    them as if 'T'-separated (r3 advice: divergence was baked into the
    fixture truth)."""
    from pyspark.sql import functions as F

    from fiona_spark.functions import datetime as fdt
    df = spark.createDataFrame(
        [("2012-01-29T10:11:12",), ("2012-01-29 10:11:12",),
         ("2012-01-29t10:11:12",)], "s string")
    got = df.select(fdt.parse_datetime_parts("s").alias("p")).collect()
    assert got[0]["p"]["hh"] == 10
    # non-'T' forms fail the regex entirely (reference raises ValueError;
    # set-oriented analogue: zeroed parts, unknown zone)
    for r in got[1:]:
        assert r["p"]["hh"] == 0 and r["p"]["y"] == 0


def test_dissolve_components_distributed_lane_parity(spark):
    """Forcing max_pairs below the edge count routes dissolve through
    the distributed label propagation; output rows are identical to
    the driver fast lane (components, members, exactness, rings)."""
    from fiona_spark.operators import aggregates

    rows = []
    # three overlap chains of 3 squares + 4 disjoint singletons
    fid = 0
    for c in range(3):
        for i in range(3):
            x0 = c * 100.0 + i * 1.5
            rows.append((fid, [x0, x0 + 2.0, x0 + 2.0, x0],
                         [0.0, 0.0, 2.0, 2.0]))
            fid += 1
    for s in range(4):
        x0 = 1000.0 + s * 10
        rows.append((fid, [x0, x0 + 1, x0 + 1, x0],
                     [0.0, 0.0, 1.0, 1.0]))
        fid += 1
    df = spark.createDataFrame(
        rows, "fid long, xs array<double>, ys array<double>")
    fast = aggregates.dissolve_components(df, "fid").toPandas()
    dist = aggregates.dissolve_components(df, "fid", max_pairs=2).toPandas()

    def norm(pdf):
        # canonicalize ring rotation (group row order differs between
        # the two join strategies and rolls the union output)
        out = []
        for r in pdf.itertuples():
            rings = []
            for rx, ry in zip(r.rings_xs, r.rings_ys):
                pts = list(zip(map(float, rx), map(float, ry)))
                k = pts.index(min(pts))
                rings.append(tuple(pts[k:] + pts[:k]))
            out.append((int(r.component), int(r.n_members),
                        bool(r.exact), tuple(sorted(rings))))
        return sorted(out)

    assert norm(fast) == norm(dist)
    assert len(fast) == 3 + 4


def test_buffer_feature_udf_donut(spark):
    """The multi-ring buffer UDF: a donut grows outward and its hole
    shrinks; negative dist erodes.  Verified against geom directly."""
    import pandas as pd

    from fiona_spark import geom
    from fiona_spark.functions import geometry as gf
    pdf = pd.DataFrame({
        "geom_type": ["Polygon"],
        "rings_xs": [[[0., 8., 8., 0.], [2., 6., 6., 2.]]],
        "rings_ys": [[[0., 0., 8., 8.], [2., 2., 6., 6.]]]})
    df = spark.createDataFrame(pdf)
    for d in (1.0, -0.5):
        row = df.select(gf.buffer_udf(d, segs=32)(*gf.RING_ARGS)
                        .alias("b")).first()["b"]
        assert row["geom_type"] == "Polygon"
        want_x, want_y = geom.buffer_feature(
            pdf["rings_xs"][0], pdf["rings_ys"][0], d, segs=32)
        assert union_area(row["rings_xs"], row["rings_ys"]) == \
            pytest.approx(union_area(want_x, want_y))
        assert len(row["rings_xs"]) == 2


def test_dissolve_distributed_lane_integration(spark):
    """Integration stress: 8 parcel-grid clusters (6x6 shared-border
    unions) + 300 disjoint singletons, distributed closure FORCED
    (max_pairs below the edge count): every cluster dissolves EXACTLY
    to its 6x6 square, singletons pass through untouched."""
    import pandas as pd

    from fiona_spark.operators import aggregates
    rows = []
    fid = 0
    for c in range(8):
        ox, oy = (c % 4) * 1000.0, (c // 4) * 1000.0
        for i in range(6):
            for j in range(6):
                rows.append((fid, [ox + i, ox + i + 1, ox + i + 1, ox + i],
                             [oy + j, oy + j, oy + j + 1, oy + j + 1]))
                fid += 1
    for s_ in range(300):
        x0 = 100000.0 + s_ * 10
        rows.append((fid, [x0, x0 + 1, x0 + 1, x0],
                     [0.0, 0.0, 1.0, 1.0]))
        fid += 1
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["fid", "xs", "ys"])).repartition(16)
    out = aggregates.dissolve_components(df, "fid", max_pairs=50).toPandas()
    assert len(out) == 8 + 300
    assert bool(out["exact"].all())
    multi = out[out.n_members > 1]
    assert len(multi) == 8 and set(multi.n_members) == {36}
    for r in multi.itertuples():
        assert union_area(r.rings_xs, r.rings_ys) == \
            pytest.approx(36.0)
