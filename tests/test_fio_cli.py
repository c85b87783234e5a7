"""``fio`` CLI parity tests (`fiona/fio/*` behavior, argparse glue).

Most tests drive :func:`fiona_spark.fio.main` in-process so Spark-backed
subcommands reuse the shared test session; one subprocess test proves
the real ``python -m fiona_spark.fio`` pipe contract end-to-end.
"""

import io
import json
import os
import shutil
import subprocess
import sys

import pytest

from fiona_spark import fio
from fiona_spark.fixtures import ensure_canon_gpkg

RS = "\x1e"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_cli(args, stdin_text=None, capsys=None, monkeypatch=None):
    if stdin_text is not None:
        monkeypatch.setattr(sys, "stdin", io.StringIO(stdin_text))
    rc = fio.main(args)
    out = capsys.readouterr().out
    return rc, out


@pytest.fixture(scope="module")
def gpkg(spark):
    return ensure_canon_gpkg(spark)


def test_env_formats(capsys):
    rc, out = run_cli(["env", "--formats"], capsys=capsys)
    assert rc == 0
    assert "shapefile (modes 'r', 'a', 'w')" in out
    assert "esrijson (modes 'r')" in out


def test_ls(gpkg, capsys):
    rc, out = run_cli(["ls", gpkg], capsys=capsys)
    assert json.loads(out) == ["zones"]


def test_cat_stream_shape(spark, gpkg, capsys):
    rc, out = run_cli(["cat", gpkg], capsys=capsys)
    feats = [json.loads(l) for l in out.splitlines() if l]
    assert len(feats) > 10
    f = feats[0]
    assert f["type"] == "Feature"
    assert f["geometry"]["type"] == "Polygon"
    assert {"zone_id", "NAME", "AGBUR"} <= set(f["properties"])


def test_cat_use_rs_and_bbox(spark, gpkg, capsys):
    _, all_out = run_cli(["cat", gpkg], capsys=capsys)
    n_all = len(all_out.splitlines())
    _, out = run_cli(["cat", gpkg, "--use-rs",
                      "--bbox", "0,40,20,50"], capsys=capsys)
    # NB: str.splitlines() treats \x1e itself as a line break —
    # split on newlines only so the RS prefix stays on each record
    lines = [l for l in out.split("\n") if l]
    assert 0 < len(lines) < n_all
    assert all(l.startswith(RS) for l in lines)
    for l in lines:
        f = json.loads(l.lstrip(RS))
        xs = [p[0] for ring in f["geometry"]["coordinates"] for p in ring]
        # bbox filter is envelope-overlap: every kept feature's
        # envelope intersects the window
        assert max(xs) >= 0 and min(xs) <= 20


def test_cat_where(spark, gpkg, capsys):
    _, out = run_cli(["cat", gpkg, "--where", "AGBUR = 'FS'"],
                     capsys=capsys)
    feats = [json.loads(l) for l in out.splitlines() if l]
    assert feats and all(f["properties"]["AGBUR"] == "FS" for f in feats)


def test_dump_collect_distrib_roundtrip(spark, gpkg, capsys, monkeypatch):
    _, dumped = run_cli(["dump", gpkg], capsys=capsys)
    doc = json.loads(dumped)
    assert doc["type"] == "FeatureCollection"
    n = len(doc["features"])

    # distrib: collection doc -> feature stream
    _, seq = run_cli(["distrib"], stdin_text=dumped, capsys=capsys,
                     monkeypatch=monkeypatch)
    lines = [l for l in seq.splitlines() if l]
    assert len(lines) == n

    # collect: stream (RS-flavored too) -> collection doc
    _, collected = run_cli(["collect"], stdin_text=RS + (RS.join(lines)),
                           capsys=capsys, monkeypatch=monkeypatch)
    doc2 = json.loads(collected)
    assert [f["id"] for f in doc2["features"]] == \
        [f["id"] for f in doc["features"]]


def test_bounds(spark, gpkg, capsys, monkeypatch):
    import fiona_spark
    _, seq = run_cli(["cat", gpkg], capsys=capsys)
    first = json.loads(seq.splitlines()[0])
    _, out = run_cli(["bounds", "--with-id", "--precision", "6"],
                     stdin_text=seq, capsys=capsys, monkeypatch=monkeypatch)
    recs = [json.loads(l) for l in out.splitlines() if l]
    assert len(recs) == len([l for l in seq.splitlines() if l])
    want = tuple(round(v, 6) for v in fiona_spark.bounds(first))
    assert tuple(recs[0]["bbox"]) == want


def test_filter_and_calc(spark, gpkg, capsys, monkeypatch):
    _, seq = run_cli(["cat", gpkg], capsys=capsys)
    _, out = run_cli(["filter", "(== AGBUR 'FS')"], stdin_text=seq,
                     capsys=capsys, monkeypatch=monkeypatch)
    feats = [json.loads(l) for l in out.splitlines() if l]
    n_fs = sum(1 for l in seq.splitlines() if l
               and json.loads(l)["properties"]["AGBUR"] == "FS")
    assert len(feats) == n_fs > 0
    assert all(f["properties"]["AGBUR"] == "FS" for f in feats)

    _, out = run_cli(["calc", "half", "(/ WILDRNP020 2.0)"],
                     stdin_text=seq, capsys=capsys, monkeypatch=monkeypatch)
    feats = [json.loads(l) for l in out.splitlines() if l]
    assert all(f["properties"]["half"] ==
               f["properties"]["WILDRNP020"] / 2.0 for f in feats)


def test_cat_dst_crs(spark, gpkg, capsys):
    from fiona_spark import transform
    _, seq = run_cli(["cat", gpkg], capsys=capsys)
    _, out = run_cli(["cat", gpkg, "--dst-crs", "EPSG:3857"],
                     capsys=capsys)
    src = json.loads(seq.splitlines()[0])
    got = json.loads(out.splitlines()[0])
    sx = [p[0] for p in src["geometry"]["coordinates"][0]]
    sy = [p[1] for p in src["geometry"]["coordinates"][0]]
    wx, wy = transform.transform("EPSG:4326", "EPSG:3857", sx, sy)
    gx = [p[0] for p in got["geometry"]["coordinates"][0]]
    gy = [p[1] for p in got["geometry"]["coordinates"][0]]
    assert gx == pytest.approx(list(wx), abs=1e-6)
    assert gy == pytest.approx(list(wy), abs=1e-6)


def test_map_buffer(spark, gpkg, capsys, monkeypatch):
    import fiona_spark
    _, seq = run_cli(["cat", gpkg], capsys=capsys)
    _, out = run_cli(["map", "(buffer g 1.0)"], stdin_text=seq,
                     capsys=capsys, monkeypatch=monkeypatch)
    feats = [json.loads(l) for l in out.splitlines() if l]
    ins = [json.loads(l) for l in seq.splitlines() if l]
    assert len(feats) == len(ins)
    # a positive buffer strictly grows every envelope
    for fin, fout in zip(ins, feats):
        bi, bo = fiona_spark.bounds(fin), fiona_spark.bounds(fout)
        assert bo[0] < bi[0] and bo[1] < bi[1]
        assert bo[2] > bi[2] and bo[3] > bi[3]
        assert fout["properties"] == fin["properties"]


def test_map_preserves_geometry_type(spark, capsys, monkeypatch):
    """Non-constructive pipelines (set_precision/simplify) must carry
    the input geometry type through — r5 advice: everything was being
    stamped Polygon."""
    feats = [json.dumps({
        "type": "Feature", "id": str(i),
        "geometry": {"type": "LineString",
                     "coordinates": [[0.12 + i, 0.34], [1.56 + i, 1.78]]},
        "properties": {"k": i}}) for i in range(3)]
    seq = "\n".join(feats) + "\n"
    _, out = run_cli(["map", "(set_precision g 0.25)"], stdin_text=seq,
                     capsys=capsys, monkeypatch=monkeypatch)
    got = [json.loads(l) for l in out.splitlines() if l]
    assert len(got) == 3
    assert all(f["geometry"]["type"] == "LineString" for f in got)
    # --dump-parts on a MultiLineString explodes to LineString parts
    mls = json.dumps({
        "type": "Feature", "id": "m",
        "geometry": {"type": "MultiLineString",
                     "coordinates": [[[0.0, 0.0], [1.0, 1.0]],
                                     [[5.0, 5.0], [6.0, 6.0]]]},
        "properties": {"k": 9}}) + "\n"
    _, out = run_cli(["map", "(set_precision g 0.25)", "--dump-parts"],
                     stdin_text=mls, capsys=capsys, monkeypatch=monkeypatch)
    parts = [json.loads(l) for l in out.splitlines() if l]
    assert len(parts) == 2
    assert all(p["geometry"]["type"] == "LineString" for p in parts)
    # buffer is constructive: output is Polygon regardless of input
    _, out = run_cli(["map", "(buffer g 0.5)"], stdin_text=seq,
                     capsys=capsys, monkeypatch=monkeypatch)
    got = [json.loads(l) for l in out.splitlines() if l]
    assert all(f["geometry"]["type"] == "Polygon" for f in got)


def test_map_keeps_every_ring_and_part(spark, capsys, monkeypatch):
    """The pipeline result replaces the whole geometry: both lines of a
    MultiLineString survive set_precision, and a holed polygon's buffer
    keeps its (shrunk) hole."""
    mls = json.dumps({
        "type": "Feature", "id": "m",
        "geometry": {"type": "MultiLineString",
                     "coordinates": [[[0.1, 0.1], [1.1, 1.1]],
                                     [[5.1, 5.1], [6.1, 6.1]]]},
        "properties": {}}) + "\n"
    _, out = run_cli(["map", "(set_precision g 0.25)"], stdin_text=mls,
                     capsys=capsys, monkeypatch=monkeypatch)
    g = json.loads(out)["geometry"]
    assert g == {"type": "MultiLineString",
                 "coordinates": [[[0.0, 0.0], [1.0, 1.0]],
                                 [[5.0, 5.0], [6.0, 6.0]]]}
    holed = json.dumps({
        "type": "Feature", "id": "h",
        "geometry": {"type": "Polygon", "coordinates": [
            [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
            [[3, 3], [7, 3], [7, 7], [3, 7], [3, 3]]]},
        "properties": {}}) + "\n"
    _, out = run_cli(["map", "(buffer g 0.5)"], stdin_text=holed,
                     capsys=capsys, monkeypatch=monkeypatch)
    g = json.loads(out)["geometry"]
    assert g["type"] == "Polygon" and len(g["coordinates"]) == 2
    hole = g["coordinates"][1]
    assert min(p[0] for p in hole) == pytest.approx(3.5)
    assert max(p[0] for p in hole) == pytest.approx(6.5)


def test_reduce_union_and_collect(spark, gpkg, capsys, monkeypatch):
    import fiona_spark
    _, seq = run_cli(["cat", gpkg], capsys=capsys)
    n_in = len([l for l in seq.splitlines() if l])
    _, out = run_cli(["reduce", "(unary_union c)"], stdin_text=seq,
                     capsys=capsys, monkeypatch=monkeypatch)
    feat = json.loads(out)
    assert feat["type"] == "Feature"
    assert feat["geometry"]["type"] in ("Polygon", "MultiPolygon")
    # the dissolve of disjoint zones covers every input's envelope
    ub = fiona_spark.bounds(feat)
    first = json.loads(seq.splitlines()[0])
    fb = fiona_spark.bounds(first)
    assert ub[0] <= fb[0] and ub[2] >= fb[2]

    _, out = run_cli(["reduce", "(collect c)", "--raw"], stdin_text=seq,
                     capsys=capsys, monkeypatch=monkeypatch)
    g = json.loads(out)
    assert g["type"] == "GeometryCollection"
    assert len(g["geometries"]) == n_in


def test_reduce_union_keeps_hole(spark, capsys, monkeypatch):
    """``(unary_union c)`` unions whole features: the hole of a holed
    square survives a union with a square over its east edge."""
    seq = "".join(json.dumps({
        "type": "Feature", "id": str(i), "properties": {},
        "geometry": {"type": "Polygon", "coordinates": rings}}) + "\n"
        for i, rings in enumerate([
            [[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
             [[3, 3], [7, 3], [7, 7], [3, 7], [3, 3]]],
            [[[8, 2], [12, 2], [12, 4], [8, 4], [8, 2]]]]))
    _, out = run_cli(["reduce", "(unary_union c)"], stdin_text=seq,
                     capsys=capsys, monkeypatch=monkeypatch)
    g = json.loads(out)["geometry"]
    assert g["type"] == "Polygon" and len(g["coordinates"]) == 2
    hole = g["coordinates"][1]
    assert sorted({p[0] for p in hole}) == [3, 7]
    assert sorted({p[1] for p in hole}) == [3, 7]


def test_load_roundtrip(spark, gpkg, tmp_path, capsys, monkeypatch):
    _, seq = run_cli(["cat", gpkg], capsys=capsys)
    out_path = str(tmp_path / "loaded.geojsons")
    run_cli(["load", out_path, "--driver", "geojson_seq"],
            stdin_text=seq, capsys=capsys, monkeypatch=monkeypatch)
    _, seq2 = run_cli(["cat", out_path], capsys=capsys)
    ids = sorted(json.loads(l)["id"] for l in seq.splitlines() if l)
    ids2 = sorted(int(json.loads(l)["id"])
                  for l in seq2.splitlines() if l)
    assert ids == ids2


def test_info_count_and_insp(spark, gpkg, capsys):
    _, out = run_cli(["info", gpkg, "--count"], capsys=capsys)
    n = int(out.strip())
    _, seq = run_cli(["cat", gpkg], capsys=capsys)
    assert n == len([l for l in seq.splitlines() if l])
    _, out = run_cli(["insp", gpkg], capsys=capsys)
    rec = json.loads(out)
    assert rec["count"] == n and len(rec["head"]) == 5


def test_insp_interactive(spark, gpkg, capsys, monkeypatch):
    """`fio insp --interactive` drops into code.interact with the open
    collection bound as `src` (`fiona/fio/insp.py:29` parity); EOF on
    stdin exits the interpreter cleanly."""
    rc, out = run_cli(["insp", gpkg, "--interactive"],
                      stdin_text='print("NROWS=%d" % len(src))\n',
                      capsys=capsys, monkeypatch=monkeypatch)
    assert rc == 0
    _, count_out = run_cli(["info", gpkg, "--count"], capsys=capsys)
    assert f"NROWS={int(count_out.strip())}" in out


def test_insp_no_interactive_flag(spark, gpkg, capsys):
    """--no-interactive forces the JSON record even if a TTY were
    attached."""
    _, out = run_cli(["insp", gpkg, "--no-interactive"], capsys=capsys)
    rec = json.loads(out)
    assert "head" in rec and "count" in rec


def test_info_layer_flag(spark, capsys):
    """`fio info path --layer X --count` must report the REQUESTED
    layer, not silently the default one (r5 advice)."""
    gpx = "/root/reference/tests/data/test_gpx.gpx"
    if not os.path.exists(gpx):
        pytest.skip("reference gpx fixture unavailable")
    _, out = run_cli(["info", gpx, "--layer", "track_points", "--count"],
                     capsys=capsys)
    n_tp = int(out.strip())
    _, out = run_cli(["info", gpx, "--layer", "tracks", "--count"],
                     capsys=capsys)
    n_tr = int(out.strip())
    from fiona_spark.sources import drivers
    want_tp = drivers.open_dataset(spark, gpx, layer="track_points").count()
    want_tr = drivers.open_dataset(spark, gpx, layer="tracks").count()
    assert (n_tp, n_tr) == (want_tp, want_tr)
    assert n_tp != n_tr   # the flag visibly selects different layers


def test_rm_requires_yes(tmp_path, capsys):
    victim = tmp_path / "t.csv"
    victim.write_text("a,b\n1,2\n")
    with pytest.raises(SystemExit):
        fio.main(["rm", str(victim)])
    assert victim.exists()
    fio.main(["rm", str(victim), "--yes"])
    assert not victim.exists()


@pytest.mark.slow
def test_subprocess_pipe(gpkg, tmp_path):
    """The real module-level contract: fio cat | fio collect."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="2")
    cat = subprocess.run(
        [sys.executable, "-m", "fiona_spark.fio", "cat", gpkg,
         "--use-rs"],
        capture_output=True, text=True, env=env, timeout=300)
    assert cat.returncode == 0, cat.stderr[-2000:]
    collect = subprocess.run(
        [sys.executable, "-m", "fiona_spark.fio", "collect"],
        input=cat.stdout, capture_output=True, text=True, env=env,
        timeout=60)
    assert collect.returncode == 0, collect.stderr[-2000:]
    doc = json.loads(collect.stdout)
    assert doc["type"] == "FeatureCollection" and doc["features"]


def test_cat_cut_at_antimeridian(spark, tmp_path, capsys):
    # a dateline-straddling polygon in the engine's continuous wrap
    # convention (x past +180), reference fio/cat.py:114-124 flag
    gj = {"type": "FeatureCollection", "features": [{
        "type": "Feature", "id": "0",
        "properties": {"name": "straddler"},
        "geometry": {"type": "Polygon", "coordinates": [
            [[175.0, -5.0], [185.0, -5.0], [185.0, 5.0],
             [175.0, 5.0], [175.0, -5.0]]]}}]}
    p = tmp_path / "dateline.geojson"
    p.write_text(json.dumps(gj))

    # without the flag: geometry passes through uncut
    _, out = run_cli(["cat", str(p), "--dst-crs", "EPSG:4326"],
                     capsys=capsys)
    f = json.loads(out.splitlines()[0])
    assert len(f["geometry"]["coordinates"]) == 1
    assert max(pt[0] for pt in f["geometry"]["coordinates"][0]) == 185.0

    # with the flag: cut into a west part and an east part wrapped back
    _, out = run_cli(["cat", str(p), "--dst-crs", "EPSG:4326",
                      "--cut-at-antimeridian"], capsys=capsys)
    f = json.loads(out.splitlines()[0])
    assert f["geometry"]["type"] == "MultiPolygon"
    parts = f["geometry"]["coordinates"]
    assert len(parts) == 2 and all(len(p) == 1 for p in parts)
    allx = [pt[0] for part in parts for ring in part for pt in ring]
    assert max(allx) <= 180.0 and min(allx) >= -180.0
    # the wrapped east part sits at the -180 side
    assert min(allx) == -180.0
    # library-level twin agrees (same cutter)
    from fiona_spark import geom
    xs, ys, was_cut = geom.cut_dateline_rings(
        [[175.0, 185.0, 185.0, 175.0, 175.0]],
        [[-5.0, -5.0, 5.0, 5.0, -5.0]])
    assert was_cut and len(xs) == 2


def test_info_format_and_name_flags(spark, gpkg, capsys):
    # reference fio/info.py:28-39 single-member flags
    _, out = run_cli(["info", gpkg, "-f"], capsys=capsys)
    assert out.strip() == "geopackage"
    _, out = run_cli(["info", gpkg, "--name"], capsys=capsys)
    assert out.strip() == "canon_zones"
    _, out = run_cli(["info", gpkg, "--layer", "zones", "--name"],
                     capsys=capsys)
    assert out.strip() == "zones"


def test_cat_bbox_json_form(spark, gpkg, capsys):
    # reference fio/cat.py:104-107 accepts a JSON array bbox
    # note: the comma form needs --bbox=... when west is negative
    # (argparse would read a leading '-' as an option); the JSON array
    # form never hits that, one reason the reference supports it
    _, out_csv = run_cli(["cat", gpkg, "--bbox=0,40,20,50"],
                         capsys=capsys)
    _, out_json = run_cli(["cat", gpkg, "--bbox", "[0, 40, 20, 50]"],
                          capsys=capsys)
    assert out_json == out_csv and out_csv.strip()
