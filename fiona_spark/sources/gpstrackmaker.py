"""GPSTrackMaker (.gtm) source + sink — reference parity for the
GPSTrackMaker row of the driver table (`fiona/drvsupport.py:78-79`;
capability gates `:309,:329,:360` — no time/date fields, datetimes at
SECONDS resolution with no timezone, waypoint schema
``name/comment/icon/time`` with icon default 48, the shapes the
reference's own datetime tests pin at `tests/test_datetime.py:36-70`).

The GTM 211 layout implemented here (little-endian throughout) follows
the public format description the GDAL ``gtm`` driver reads:

* fixed 99-byte header: ``int16 version`` (211), ``char[10]``
  ``"TrackMaker"``, then reserved bytes with the meaningful counters at
  fixed offsets — 27 ``int32 nwptstyles``, 35 ``int32 nwpts``,
  39 ``int32 ntrackpoints``, 47 four ``float32`` bounds
  (minlon, maxlon, minlat, maxlat), 63 ``int32 nmaps``,
  67 ``int32 ntracks``;
* four ``uint16``-length-prefixed header tail strings (fonts / grid /
  datum names — written empty, skipped by length on read);
* ``nwpts`` waypoint records: ``double lat, double lon, char[10] name``
  (space-padded), ``uint16``-length comment, ``uint16 icon``,
  ``uint8 dslp``, ``int32 wdate`` (seconds since 1989-12-31T00:00:00Z,
  0 = unset), ``uint16 wrot``, ``float32 alt``, ``uint16 txt``;
* waypoint styles (not produced by this writer; files carrying them
  raise a loud ``DriverError`` rather than guessing the record shape);
* ``ntrackpoints`` trackpoint records: ``double lat, double lon,
  int32 date, uint8 start, float32 alt`` (25 bytes; ``start=1`` opens a
  new track);
* ``ntracks`` track headers: ``uint16``-length name, ``uint8 type``,
  ``int32 color`` — the i-th header styles the i-th start-flagged
  trackpoint run.

Layers mirror GDAL: ``waypoints`` (Point; name/comment/icon/time) and
``tracks`` (LineString; name/type/color).  Single-file format → r4
convention: bytes parse on the driver, writers encode
``drivers.feature_rows``; bulk exports belong in parquet.  Append re-uses
the existing section byte ranges verbatim (no decode/re-encode of old
records) and patches counts + bounds.
"""

from __future__ import annotations

import datetime as _dt
import math
import struct

from pyspark.sql import DataFrame, types as T

from ..errors import DriverError
from .drivers import atomic_file, feature_rows, rows_frame

__all__ = ["read_gtm", "write_gtm", "append_gtm", "LAYERS"]

LAYERS = ("waypoints", "tracks")

#: seconds from the Unix epoch to 1989-12-31T00:00:00Z (GTM's day zero)
GTM_EPOCH = 631065600

_HEADER_SIZE = 99
_OFF_NWPTSTYLES = 27
_OFF_NWPTS = 35
_OFF_NTCKS = 39
_OFF_BOUNDS = 47
_OFF_NMAPS = 63
_OFF_NTK = 67


def _u16(data, pos):
    return struct.unpack_from("<H", data, pos)[0]


def _parse(path: str) -> dict:
    with open(path, "rb") as fh:
        data = fh.read()
    if len(data) < _HEADER_SIZE:
        raise DriverError(f"{path!r}: truncated GTM header")
    version = struct.unpack_from("<h", data, 0)[0]
    code = data[2:12]
    if version != 211 or code != b"TrackMaker":
        raise DriverError(
            f"{path!r}: not a GTM 211 file "
            f"(version={version}, code={code!r})")
    nwptstyles = struct.unpack_from("<i", data, _OFF_NWPTSTYLES)[0]
    nwpts = struct.unpack_from("<i", data, _OFF_NWPTS)[0]
    ntcks = struct.unpack_from("<i", data, _OFF_NTCKS)[0]
    bounds = struct.unpack_from("<4f", data, _OFF_BOUNDS)
    nmaps = struct.unpack_from("<i", data, _OFF_NMAPS)[0]
    ntk = struct.unpack_from("<i", data, _OFF_NTK)[0]
    if nwptstyles:
        raise DriverError(
            f"{path!r}: GTM waypoint styles are not supported "
            f"(nwptstyles={nwptstyles})")
    if nmaps:
        raise DriverError(f"{path!r}: embedded GTM maps are not supported")
    pos = _HEADER_SIZE
    for _ in range(4):                       # header tail strings
        n = _u16(data, pos)
        pos += 2 + n

    wpt_start = pos
    waypoints = []
    for _ in range(nwpts):
        lat, lon = struct.unpack_from("<dd", data, pos)
        pos += 16
        name = data[pos:pos + 10].decode("ascii", "replace").rstrip()
        pos += 10
        clen = _u16(data, pos)
        pos += 2
        comment = data[pos:pos + clen].decode("utf-8", "replace")
        pos += clen
        icon, _dslp, wdate, _wrot, _alt, _txt = struct.unpack_from(
            "<HBiHfH", data, pos)
        pos += 15
        waypoints.append({"lon": lon, "lat": lat, "name": name,
                          "comment": comment, "icon": icon,
                          "wdate": wdate})
    wpt_bytes = data[wpt_start:pos]

    tck_start = pos
    trackpoints = []
    for _ in range(ntcks):
        lat, lon, date, start, _alt = struct.unpack_from("<ddiBf", data, pos)
        pos += 25
        trackpoints.append({"lon": lon, "lat": lat, "date": date,
                            "start": start})
    tck_bytes = data[tck_start:pos]

    tk_start = pos
    tracks = []
    for _ in range(ntk):
        n = _u16(data, pos)
        pos += 2
        name = data[pos:pos + n].decode("utf-8", "replace")
        pos += n
        ttype, color = struct.unpack_from("<Bi", data, pos)
        pos += 5
        tracks.append({"name": name, "type": ttype, "color": color})
    tk_bytes = data[tk_start:pos]

    return {"waypoints": waypoints, "trackpoints": trackpoints,
            "tracks": tracks, "bounds": bounds,
            "wpt_bytes": wpt_bytes, "tck_bytes": tck_bytes,
            "tk_bytes": tk_bytes}


def _wdate_to_ts(wdate: int):
    if not wdate:
        return None
    return _dt.datetime.fromtimestamp(GTM_EPOCH + wdate, _dt.timezone.utc) \
        .replace(tzinfo=None)


def read_gtm(spark, path: str, layer: str = "waypoints") -> DataFrame:
    """Open one GTM layer as a ring-model DataFrame."""
    if layer not in LAYERS:
        raise DriverError(f"unknown GTM layer {layer!r} (have {LAYERS})")
    parsed = _parse(path)
    rows = []
    if layer == "waypoints":
        for w in parsed["waypoints"]:
            rows.append({
                "fid": len(rows), "geom_type": "Point",
                "rings_xs": [[w["lon"]]], "rings_ys": [[w["lat"]]],
                "name": w["name"], "comment": w["comment"],
                "icon": w["icon"], "time": _wdate_to_ts(w["wdate"])})
        fields = {"fid": T.LongType(), "name": T.StringType(),
                  "comment": T.StringType(), "icon": T.IntegerType(),
                  "time": T.TimestampType()}
    else:
        # split trackpoints into runs at start flags; header i -> run i
        runs, cur = [], None
        for p in parsed["trackpoints"]:
            if p["start"] or cur is None:
                cur = []
                runs.append(cur)
            cur.append(p)
        headers = parsed["tracks"]
        for i, run in enumerate(runs):
            hdr = headers[i] if i < len(headers) else {
                "name": "", "type": 1, "color": 0}
            rows.append({
                "fid": i, "geom_type": "LineString",
                "rings_xs": [[p["lon"] for p in run]],
                "rings_ys": [[p["lat"] for p in run]],
                "name": hdr["name"], "type": hdr["type"],
                "color": hdr["color"]})
        fields = {"fid": T.LongType(), "name": T.StringType(),
                  "type": T.IntegerType(), "color": T.IntegerType()}
    return rows_frame(spark, rows, fields)


def _ts_to_wdate(val) -> int:
    if val is None or (isinstance(val, float) and math.isnan(val)):
        return 0
    if isinstance(val, str):
        val = _dt.datetime.fromisoformat(val.replace("Z", "+00:00"))
    if isinstance(val, _dt.datetime):
        if val.tzinfo is None:
            val = val.replace(tzinfo=_dt.timezone.utc)
        ts = int(val.timestamp()) - GTM_EPOCH
        if ts < 0:
            # 0 means "unset" in GTM, so clamping would silently turn a
            # real pre-1990 datetime into None on read-back (r7 ADVICE)
            raise DriverError(
                f"GTM cannot store timestamps before 1989-12-31: {val!r}")
        return ts
    raise DriverError(f"unsupported GTM time value {val!r}")


def _enc_waypoint(row: dict) -> bytes:
    name = str(row.get("name") or "")[:10].ljust(10).encode(
        "ascii", "replace")
    comment = str(row.get("comment") or "").encode("utf-8")
    icon = row.get("icon")
    icon = 48 if icon is None else int(icon)       # reference default
    wdate = _ts_to_wdate(row.get("time"))
    return (struct.pack("<dd", float(row["rings_ys"][0][0]),
                        float(row["rings_xs"][0][0]))
            + name
            + struct.pack("<H", len(comment)) + comment
            + struct.pack("<HBiHfH", icon, 0, wdate, 0, 0.0, 0))


def _enc_track(row: dict, xs, ys):
    pts = b"".join(
        struct.pack("<ddiBf", float(y), float(x), 0,
                    1 if i == 0 else 0, 0.0)
        for i, (x, y) in enumerate(zip(xs, ys)))
    name = str(row.get("name") or "").encode("utf-8")
    ttype = int(row.get("type") or 1)
    color = int(row.get("color") or 0)
    hdr = struct.pack("<H", len(name)) + name + struct.pack(
        "<Bi", ttype, color)
    return pts, hdr, len(xs)


def _emit(path: str, wpt_bytes: bytes, nwpts: int, tck_bytes: bytes,
          ntcks: int, tk_bytes: bytes, ntk: int, bounds) -> None:
    header = bytearray(_HEADER_SIZE)
    struct.pack_into("<h", header, 0, 211)
    header[2:12] = b"TrackMaker"
    struct.pack_into("<i", header, _OFF_NWPTSTYLES, 0)
    struct.pack_into("<i", header, _OFF_NWPTS, nwpts)
    struct.pack_into("<i", header, _OFF_NTCKS, ntcks)
    struct.pack_into("<4f", header, _OFF_BOUNDS, *bounds)
    struct.pack_into("<i", header, _OFF_NMAPS, 0)
    struct.pack_into("<i", header, _OFF_NTK, ntk)
    with atomic_file(path) as tmp, open(tmp, "wb") as fh:
        fh.write(bytes(header))
        fh.write(struct.pack("<HHHH", 0, 0, 0, 0))   # empty tail strings
        fh.write(wpt_bytes)
        fh.write(tck_bytes)
        fh.write(tk_bytes)


def _encode_rows(df: DataFrame):
    """Encode ``drivers.feature_rows`` once (driver-serial single-file
    encode) into (waypoint bytes, n, trackpoint bytes, n, header bytes,
    n, bounds); rows without a vertex are skipped, and the bounds
    cover every part of every written row."""
    wpt, tck, tk = bytearray(), bytearray(), bytearray()
    nwpts = ntcks = ntk = 0
    lo_x = lo_y = float("inf")
    hi_x = hi_y = float("-inf")
    _props, rows = feature_rows(df)
    for d in rows:
        if d.get("xmin") is None:
            continue
        gt = d.get("geom_type")
        if gt == "Point":
            wpt += _enc_waypoint(d)
            nwpts += 1
        elif gt in ("LineString", "MultiLineString"):
            for rxs, rys in zip(d["rings_xs"], d["rings_ys"]):
                pts, hdr, n = _enc_track(d, rxs, rys)
                tck += pts
                tk += hdr
                ntcks += n
                ntk += 1
        else:
            raise DriverError(
                f"GTM cannot store geometry type {gt!r} "
                "(points and line strings only)")
        lo_x, lo_y = min(lo_x, d["xmin"]), min(lo_y, d["ymin"])
        hi_x, hi_y = max(hi_x, d["xmax"]), max(hi_y, d["ymax"])
    if nwpts == 0 and ntcks == 0:
        lo_x = lo_y = hi_x = hi_y = 0.0
    return wpt, nwpts, tck, ntcks, tk, ntk, (lo_x, hi_x, lo_y, hi_y)


def write_gtm(df: DataFrame, path: str) -> None:
    """Single-file GTM 211 sink: Point rows become waypoints,
    LineString rows tracks (MultiLineString: one track per part)."""
    wpt, nwpts, tck, ntcks, tk, ntk, bounds = _encode_rows(df)
    _emit(path, bytes(wpt), nwpts, bytes(tck), ntcks, bytes(tk), ntk, bounds)


def append_gtm(df: DataFrame, path: str) -> None:
    """Append features to an existing .gtm: old section bytes are kept
    verbatim (no decode/re-encode), counts and bounds are patched."""
    old = _parse(path)
    wpt, nwpts, tck, ntcks, tk, ntk, bounds = _encode_rows(df)
    ob = old["bounds"]
    if nwpts == 0 and ntcks == 0:
        # nothing appended: keep the old envelope verbatim — merging the
        # writer's (0,0,0,0) placeholder would wrongly grow it to the
        # origin (r7 ADVICE)
        bounds = ob
    elif old["waypoints"] or old["trackpoints"]:
        bounds = (min(bounds[0], ob[0]), max(bounds[1], ob[1]),
                  min(bounds[2], ob[2]), max(bounds[3], ob[3]))
    _emit(path,
          old["wpt_bytes"] + bytes(wpt), len(old["waypoints"]) + nwpts,
          old["tck_bytes"] + bytes(tck), len(old["trackpoints"]) + ntcks,
          old["tk_bytes"] + bytes(tk), len(old["tracks"]) + ntk,
          bounds)
