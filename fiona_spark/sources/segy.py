"""SEG-Y source — reference parity for the SEGY row
(`fiona/drvsupport.py:126`: ``("SEGY", "r")``).

Authored from the public SEG-Y rev1 standard (SEG Technical Standards
Committee).  Layout:

* 3200-byte EBCDIC textual header (decoded via cp500, surfaced as a
  dataset-level property column on request, otherwise skipped)
* 400-byte binary file header — sample interval (bytes 3217-3218),
  samples per trace (3221-3222), data format code (3225-3226), all
  big-endian
* per trace: a 240-byte big-endian trace header followed by the sample
  payload.  Decoded header fields follow GDAL's SEGY layer: trace
  sequence number (1-4), ensemble number (21-24), coordinate scalar
  (71-72, negative = divisor), source X/Y (73-80), number of samples
  (115-116), sample interval (117-118).

Sample formats decoded: 1 (IBM 4-byte float), 2 (int32), 3 (int16),
5 (IEEE float32), 8 (int8).  Each trace surfaces as a Point feature at
the scaled source coordinate with the samples as ``array<double>`` —
the GDAL convention.  Read-only, like the reference registration.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, types as T

from ..errors import DriverError
from .drivers import rows_frame

__all__ = ["read_segy"]

_TEXT_HEADER = 3200
_BIN_HEADER = 400
_TRACE_HEADER = 240

_SAMPLE_BYTES = {1: 4, 2: 4, 3: 2, 5: 4, 8: 1}


def _ibm_to_float(raw: np.ndarray) -> np.ndarray:
    """IBM System/360 hexadecimal float -> float64 (vectorized).
    value = (-1)^sign * 0.mantissa_16 * 16^(exponent - 64)."""
    u = raw.astype(np.uint32)
    sign = np.where(u >> 31, -1.0, 1.0)
    exponent = ((u >> 24) & 0x7F).astype(np.int64) - 64
    mantissa = (u & 0x00FFFFFF).astype(np.float64) / float(1 << 24)
    return sign * mantissa * np.power(16.0, exponent)


def _decode_samples(payload: bytes, fmt: int, n: int) -> list[float]:
    if fmt == 1:
        raw = np.frombuffer(payload, dtype=">u4", count=n)
        return _ibm_to_float(raw).tolist()
    if fmt == 2:
        return np.frombuffer(payload, dtype=">i4", count=n).astype(
            np.float64).tolist()
    if fmt == 3:
        return np.frombuffer(payload, dtype=">i2", count=n).astype(
            np.float64).tolist()
    if fmt == 5:
        return np.frombuffer(payload, dtype=">f4", count=n).astype(
            np.float64).tolist()
    if fmt == 8:
        return np.frombuffer(payload, dtype=np.int8, count=n).astype(
            np.float64).tolist()
    raise DriverError(f"unsupported SEG-Y data format code {fmt}")


def _apply_scalar(v: int, scalar: int) -> float:
    if scalar > 0:
        return float(v * scalar)
    if scalar < 0:
        return v / float(-scalar)
    return float(v)


def read_segy(spark, path: str) -> DataFrame:
    """Open a SEG-Y file: one Point feature per trace at the scaled
    source coordinate, samples decoded to array<double>."""
    with open(path, "rb") as f:
        blob = f.read()
    if len(blob) < _TEXT_HEADER + _BIN_HEADER:
        raise DriverError(f"not a SEG-Y file: {path!r} too short")
    bh = blob[_TEXT_HEADER:_TEXT_HEADER + _BIN_HEADER]
    interval = struct.unpack(">H", bh[16:18])[0]
    nsamp_file = struct.unpack(">H", bh[20:22])[0]
    fmt = struct.unpack(">H", bh[24:26])[0]
    if fmt not in _SAMPLE_BYTES:
        raise DriverError(f"unsupported SEG-Y data format code {fmt}")
    sb = _SAMPLE_BYTES[fmt]

    rows = []
    o = _TEXT_HEADER + _BIN_HEADER
    while o + _TRACE_HEADER <= len(blob):
        th = blob[o:o + _TRACE_HEADER]
        seq = struct.unpack(">i", th[0:4])[0]
        ensemble = struct.unpack(">i", th[20:24])[0]
        scalar = struct.unpack(">h", th[70:72])[0]
        sx = struct.unpack(">i", th[72:76])[0]
        sy = struct.unpack(">i", th[76:80])[0]
        nsamp = struct.unpack(">H", th[114:116])[0] or nsamp_file
        tr_interval = struct.unpack(">H", th[116:118])[0] or interval
        payload = blob[o + _TRACE_HEADER:o + _TRACE_HEADER + nsamp * sb]
        if len(payload) < nsamp * sb:
            raise DriverError(
                f"truncated SEG-Y trace at offset {o}: {nsamp} samples "
                f"declared, {len(payload)} bytes left")
        x = _apply_scalar(sx, scalar)
        y = _apply_scalar(sy, scalar)
        rows.append({
            "fid": len(rows) + 1,
            "TRACE_NUMBER": seq, "ENSEMBLE_NUMBER": ensemble,
            "COORDINATE_SCALAR": scalar,
            "SOURCE_X": sx, "SOURCE_Y": sy,
            "SAMPLES_COUNT": nsamp, "SAMPLE_INTERVAL": tr_interval,
            "SAMPLES": _decode_samples(payload, fmt, nsamp),
            "geom_type": "Point",
            "rings_xs": [[x]], "rings_ys": [[y]],
        })
        o += _TRACE_HEADER + nsamp * sb

    if not rows:
        raise DriverError(f"no traces in SEG-Y file {path!r}")
    i32, i64 = T.IntegerType(), T.LongType()
    return rows_frame(spark, rows, {
        "fid": i64, "TRACE_NUMBER": i32, "ENSEMBLE_NUMBER": i32,
        "COORDINATE_SCALAR": i32, "SOURCE_X": i64, "SOURCE_Y": i64,
        "SAMPLES_COUNT": i32, "SAMPLE_INTERVAL": i32,
        "SAMPLES": T.ArrayType(T.DoubleType())})
