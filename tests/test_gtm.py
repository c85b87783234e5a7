"""GPSTrackMaker (.gtm) source/sink (`fiona/drvsupport.py:78-79`;
datetime capability rows `:309,:329,:360`).

The binary fixture in test_gtm_reader_against_independent_bytes is
authored with raw struct packing, independent of the engine writer —
a differential on the reader's header offsets, string framing, and
record decode.  Round-trip tests pin the reference's waypoint schema
(name/comment/icon/time, icon default 48, seconds-resolution naive
datetimes — `tests/test_datetime.py:36-70` in the reference).
"""

import datetime as dt
import struct

import pytest

from fiona_spark.errors import DriverError
from fiona_spark.sources.gpstrackmaker import (
    GTM_EPOCH, append_gtm, read_gtm, write_gtm)


def _wpt_df(spark, rows):
    return spark.createDataFrame(
        rows, schema="geom_type string, xs array<double>, ys array<double>, "
                     "name string, comment string, icon int, time timestamp")


def test_gtm_waypoint_round_trip_bit_exact(spark, tmp_path):
    t = dt.datetime(2020, 3, 24, 16, 8, 40)
    src = [("Point", [10.123456789012], [-33.987654321098],
            "summit", "highest point", 7, t),
           ("Point", [-179.99999999], [66.000000001],
            "camp", "", 48, None)]
    p = str(tmp_path / "w.gtm")
    write_gtm(_wpt_df(spark, src), p)
    got = sorted(read_gtm(spark, p, "waypoints").collect(),
                 key=lambda r: r["name"], reverse=True)
    assert [r["geom_type"] for r in got] == ["Point", "Point"]
    assert got[0]["xs"] == [10.123456789012]        # bit-exact doubles
    assert got[0]["ys"] == [-33.987654321098]
    assert got[0]["name"] == "summit"
    assert got[0]["comment"] == "highest point"
    assert got[0]["icon"] == 7
    assert got[0]["time"] == t                      # seconds resolution
    assert got[1]["time"] is None and got[1]["icon"] == 48
    assert got[1]["xmin"] == -179.99999999


def test_gtm_icon_defaults_to_48_when_absent(spark, tmp_path):
    df = spark.createDataFrame(
        [("Point", [1.5], [2.5], "a")],
        schema="geom_type string, xs array<double>, ys array<double>, "
               "name string")
    p = str(tmp_path / "d.gtm")
    write_gtm(df, p)
    r = read_gtm(spark, p, "waypoints").collect()[0]
    assert r["icon"] == 48 and r["comment"] == ""


def test_gtm_tracks_round_trip(spark, tmp_path):
    df = spark.createDataFrame(
        [("LineString", [0.0, 1.0, 2.0], [0.0, 0.5, 1.25],
          "ridge", 2, 255),
         ("LineString", [5.0, 6.0], [5.0, 5.5], "river", 1, 16711680)],
        schema="geom_type string, xs array<double>, ys array<double>, "
               "name string, type int, color int")
    p = str(tmp_path / "t.gtm")
    write_gtm(df, p)
    got = {r["name"]: r for r in read_gtm(spark, p, "tracks").collect()}
    assert len(got) == 2
    assert got["ridge"]["xs"] == [0.0, 1.0, 2.0]
    assert got["ridge"]["ys"] == [0.0, 0.5, 1.25]
    assert got["ridge"]["type"] == 2 and got["ridge"]["color"] == 255
    assert got["river"]["xs"] == [5.0, 6.0]
    assert got["river"]["geom_type"] == "LineString"


def test_gtm_mixed_frame_and_append(spark, tmp_path):
    p = str(tmp_path / "m.gtm")
    write_gtm(_wpt_df(spark, [("Point", [1.0], [2.0], "w1", "c", 3,
                               None)]), p)
    more = spark.createDataFrame(
        [("Point", [3.0], [4.0], "w2"),
         ("LineString", [0.0, 9.0], [0.0, 9.0], "tk")],
        schema="geom_type string, xs array<double>, ys array<double>, "
               "name string")
    append_gtm(more, p)
    wpts = read_gtm(spark, p, "waypoints").orderBy("fid").collect()
    assert [w["name"] for w in wpts] == ["w1", "w2"]
    assert wpts[0]["comment"] == "c" and wpts[0]["icon"] == 3
    tks = read_gtm(spark, p, "tracks").collect()
    assert len(tks) == 1 and tks[0]["xs"] == [0.0, 9.0]
    # bounds patched across both sections
    with open(p, "rb") as fh:
        data = fh.read()
    assert struct.unpack_from("<4f", data, 47) == (0.0, 9.0, 0.0, 9.0)


def test_gtm_header_bounds_cover_every_part(spark, tmp_path):
    df = spark.createDataFrame(
        [("MultiLineString", [[0.0, 1.0], [10.0, 11.0]],
          [[0.0, 1.0], [20.0, 21.0]], "two")],
        schema="geom_type string, rings_xs array<array<double>>, "
               "rings_ys array<array<double>>, name string")
    p = str(tmp_path / "parts.gtm")
    write_gtm(df, p)
    with open(p, "rb") as fh:
        data = fh.read()
    # (minlon, maxlon, minlat, maxlat) over both parts
    assert struct.unpack_from("<4f", data, 47) == (0.0, 11.0, 0.0, 21.0)
    assert len(read_gtm(spark, p, "tracks").collect()) == 2


def test_gtm_reader_against_independent_bytes(spark, tmp_path):
    """Author the file with raw struct packing (no engine writer)."""
    name = b"peak      "
    comment = b"hi"
    wpt = (struct.pack("<dd", -12.25, 100.5)          # lat, lon
           + name + struct.pack("<H", len(comment)) + comment
           + struct.pack("<HBiHfH", 9, 0, 86400, 0, 0.0, 0))
    tcks = (struct.pack("<ddiBf", 1.0, 2.0, 0, 1, 0.0)
            + struct.pack("<ddiBf", 1.5, 2.5, 0, 0, 0.0))
    tname = b"T1"
    tk = struct.pack("<H", len(tname)) + tname + struct.pack("<Bi", 5, 77)
    header = bytearray(99)
    struct.pack_into("<h", header, 0, 211)
    header[2:12] = b"TrackMaker"
    struct.pack_into("<i", header, 35, 1)             # nwpts
    struct.pack_into("<i", header, 39, 2)             # ntrackpoints
    struct.pack_into("<4f", header, 47, 2.0, 2.5, 1.0, 1.5)
    struct.pack_into("<i", header, 67, 1)             # ntracks
    p = str(tmp_path / "ind.gtm")
    with open(p, "wb") as fh:
        fh.write(bytes(header))
        fh.write(struct.pack("<HHHH", 0, 0, 0, 0))
        fh.write(wpt + tcks + tk)
    w = read_gtm(spark, p, "waypoints").collect()[0]
    assert (w["xs"], w["ys"]) == ([100.5], [-12.25])
    assert w["name"] == "peak" and w["comment"] == "hi" and w["icon"] == 9
    # 86400 s after 1989-12-31T00:00:00Z = 1990-01-01
    assert w["time"] == dt.datetime.fromtimestamp(
        GTM_EPOCH + 86400, dt.timezone.utc).replace(tzinfo=None)
    t = read_gtm(spark, p, "tracks").collect()[0]
    assert t["xs"] == [2.0, 2.5] and t["ys"] == [1.0, 1.5]
    assert t["name"] == "T1" and t["type"] == 5 and t["color"] == 77


def test_gtm_registry_and_catalog(spark, tmp_path):
    from fiona_spark.sources import catalog
    from fiona_spark.sources.drivers import (
        driver_from_extension, open_dataset, supported_drivers,
        write_dataset)
    assert supported_drivers()["gpstrackmaker"] == "raw"
    assert driver_from_extension("/tmp/x.gtm") == "gpstrackmaker"
    p = str(tmp_path / "r.gtm")
    write_dataset(_wpt_df(spark, [("Point", [1.0], [2.0], "a", "", 48,
                                   None)]), p)
    assert open_dataset(spark, p).count() == 1
    write_dataset(_wpt_df(spark, [("Point", [5.0], [6.0], "b", "", 48,
                                   None)]), p, mode="a")
    assert open_dataset(spark, p).count() == 2
    assert catalog.listlayers(p) == ["waypoints", "tracks"]


def test_gtm_rejects_polygons_and_bad_files(spark, tmp_path):
    poly = spark.createDataFrame(
        [("Polygon", [0.0, 1.0, 0.0], [0.0, 1.0, 1.0])],
        schema="geom_type string, xs array<double>, ys array<double>")
    with pytest.raises(DriverError):
        write_gtm(poly, str(tmp_path / "p.gtm"))
    bad = tmp_path / "bad.gtm"
    bad.write_bytes(b"\x00" * 200)
    with pytest.raises(DriverError):
        read_gtm(spark, str(bad))
    with pytest.raises(DriverError):
        read_gtm(spark, str(bad), layer="nope")


def test_gtm_pre_epoch_timestamp_raises(spark, tmp_path):
    """r8 (r7 ADVICE): 0 means 'unset' in GTM, so a pre-1990 datetime
    must raise instead of silently round-tripping as None."""
    src = [("Point", [1.0], [2.0], "old", "", 7,
            dt.datetime(1980, 1, 1, 0, 0, 0))]
    with pytest.raises(DriverError, match="before 1989-12-31"):
        write_gtm(_wpt_df(spark, src), str(tmp_path / "old.gtm"))


def test_gtm_empty_append_keeps_bounds(spark, tmp_path):
    """r8 (r7 ADVICE): appending zero features must not merge the
    writer's (0,0,0,0) placeholder into the existing envelope."""
    p = str(tmp_path / "b.gtm")
    src = [("Point", [30.0], [40.0], "only", "", 7, None)]
    write_gtm(_wpt_df(spark, src), p)

    from fiona_spark.sources.gpstrackmaker import _parse
    before = _parse(p)["bounds"]
    append_gtm(_wpt_df(spark, []), p)
    after = _parse(p)["bounds"]
    assert after == before
    assert read_gtm(spark, p, "waypoints").count() == 1
