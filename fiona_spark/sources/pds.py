"""NASA PDS3 table source — reference parity for the PDS/OGR_PDS rows
(`fiona/drvsupport.py:110-112`: ``("PDS", "r")`` / ``("OGR_PDS", "r")``).

A PDS3 product is an ODL label (``KEY = VALUE`` text, ``OBJECT`` /
``END_OBJECT`` nesting) that points at a TABLE object through the
``^TABLE`` pointer.  The label describes the table shape (``ROWS``,
``ROW_BYTES``, ``INTERCHANGE_FORMAT``) and one COLUMN object per field
(``NAME``, ``DATA_TYPE``, ``START_BYTE``, ``BYTES``, optional
``ITEMS``/``ITEM_BYTES`` for vectors).  Both interchange formats are
read:

* ``ASCII`` — fixed-width text records; values parse by DATA_TYPE
* ``BINARY`` — MSB_INTEGER / MSB_UNSIGNED_INTEGER / LSB_* /
  IEEE_REAL / PC_REAL / CHARACTER via struct

Pointer forms (PDS3 standard §5): ``^TABLE = 5`` (1-based record
number scaled by RECORD_BYTES), ``^TABLE = "FILE.TAB"`` (detached
file, resolved next to the label), ``^TABLE = ("FILE.TAB", 5)`` and
``^TABLE = 5 <BYTES>`` offsets.

Geometry follows the GDAL OGR_PDS convention: when the table carries
columns named LONGITUDE/LATITUDE (or the ``lng_column``/``lat_column``
open options name them), each record becomes a Point feature; other
tables read as attribute-only rows.  Read-only, like the reference
registration.
"""

from __future__ import annotations

import os
import re
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..errors import DriverError
from ..schema import with_ring_columns

__all__ = ["read_pds", "parse_odl"]


# -- ODL label parsing -------------------------------------------------------

_LINE = re.compile(r"^\s*(\^?[A-Za-z][A-Za-z0-9_:]*)\s*=\s*(.*?)\s*$")


def _odl_value(raw: str):
    raw = raw.strip()
    if raw.startswith("(") and raw.endswith(")"):
        inner = raw[1:-1]
        parts = [p.strip() for p in _split_commas(inner)]
        return tuple(_odl_value(p) for p in parts)
    if raw.startswith('"') and raw.endswith('"') and len(raw) >= 2:
        return raw[1:-1]
    if raw.startswith("'") and raw.endswith("'") and len(raw) >= 2:
        return raw[1:-1]
    # strip a trailing units expression: 5 <BYTES>
    m = re.match(r"^(.*?)\s*<([^>]*)>$", raw)
    units = None
    if m:
        raw, units = m.group(1).strip(), m.group(2).strip().upper()
    try:
        v = int(raw)
    except ValueError:
        try:
            v = float(raw)
        except ValueError:
            v = raw
    return (v, units) if units else v


def _split_commas(s: str) -> list[str]:
    out, depth, q, cur = [], 0, None, []
    for ch in s:
        if q:
            cur.append(ch)
            if ch == q:
                q = None
            continue
        if ch in "\"'":
            q = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def parse_odl(text: str) -> dict:
    """ODL label -> nested dict.  OBJECT blocks nest under
    ``objects`` as (object_type, dict) pairs; repeated objects (the
    COLUMN list) stay in file order."""
    root: dict = {"objects": []}
    stack = [root]
    pending_key = None
    pending_val: list[str] = []
    for line in text.splitlines():
        if line.strip() == "END":
            break
        if pending_key is not None:
            pending_val.append(line.strip())
            joined = " ".join(pending_val)
            if joined.count("(") <= joined.count(")"):
                stack[-1][pending_key] = _odl_value(joined)
                pending_key, pending_val = None, []
            continue
        stripped = line.split("/*")[0]
        m = _LINE.match(stripped)
        if not m:
            continue
        key, val = m.group(1).upper(), m.group(2)
        if key == "OBJECT":
            node: dict = {"objects": []}
            stack[-1]["objects"].append((str(_odl_value(val)).upper(), node))
            stack.append(node)
        elif key == "END_OBJECT":
            if len(stack) > 1:
                stack.pop()
        else:
            # multi-line tuple value (column ITEMS lists span lines)
            if val.count("(") > val.count(")"):
                pending_key, pending_val = key, [val]
            else:
                stack[-1][key] = _odl_value(val)
    return root


def _find_objects(node: dict, otype: str):
    out = []
    for t, child in node.get("objects", []):
        if t == otype:
            out.append(child)
        out.extend(_find_objects(child, otype))
    return out


# -- column decoding ---------------------------------------------------------

_BIN_INT = {"MSB_INTEGER": ">i", "INTEGER": ">i", "SUN_INTEGER": ">i",
            "LSB_INTEGER": "<i", "PC_INTEGER": "<i", "VAX_INTEGER": "<i",
            "MSB_UNSIGNED_INTEGER": ">u", "UNSIGNED_INTEGER": ">u",
            "SUN_UNSIGNED_INTEGER": ">u",
            "LSB_UNSIGNED_INTEGER": "<u", "PC_UNSIGNED_INTEGER": "<u"}
_BIN_REAL = {"IEEE_REAL": ">", "SUN_REAL": ">", "FLOAT": ">", "REAL": ">",
             "PC_REAL": "<", "LSB_IEEE_REAL": "<"}


def _decode_ascii(raw: bytes, dtype: str):
    s = raw.decode("ascii", "replace").strip().strip('"').strip()
    if not s:
        return None
    if "INTEGER" in dtype:
        return int(s)
    if "REAL" in dtype or "FLOAT" in dtype:
        return float(s)
    return s


def _decode_binary(raw: bytes, dtype: str):
    if dtype in _BIN_INT:
        endian_sign = _BIN_INT[dtype]
        width = {1: "b", 2: "h", 4: "i", 8: "q"}[len(raw)]
        if endian_sign[1] == "u":
            width = width.upper()
        return struct.unpack(endian_sign[0] + width, raw)[0]
    if dtype in _BIN_REAL:
        fmt = {4: "f", 8: "d"}[len(raw)]
        return struct.unpack(_BIN_REAL[dtype] + fmt, raw)[0]
    if dtype in ("CHARACTER", "TIME", "DATE"):
        return raw.decode("ascii", "replace").strip()
    raise DriverError(f"unsupported PDS binary DATA_TYPE {dtype!r}")


def _spark_type(dtype: str) -> str:
    if "INTEGER" in dtype:
        return "bigint"
    if "REAL" in dtype or "FLOAT" in dtype:
        return "double"
    return "string"


# -- reader -----------------------------------------------------------------

def _resolve_pointer(label: dict, label_path: str):
    """^TABLE pointer -> (data file path, byte offset)."""
    ptr = label.get("^TABLE")
    if ptr is None:
        raise DriverError("PDS label carries no ^TABLE pointer")
    record_bytes = label.get("RECORD_BYTES", 1)
    if isinstance(record_bytes, tuple):
        record_bytes = record_bytes[0]
    fname, offset = None, 0
    if isinstance(ptr, tuple):
        if len(ptr) == 2 and isinstance(ptr[0], str):
            fname = ptr[0]
            second = ptr[1]
            if isinstance(second, tuple):          # ("F.TAB", (5, BYTES))
                v, units = second
                # ^TABLE byte pointers are 1-based: "601 <BYTES>" means
                # the object STARTS at byte 601, i.e. file offset 600
                # (GDAL's pds driver subtracts 1 the same way).
                offset = (v - 1) if units == "BYTES" else (v - 1) * record_bytes
            else:
                offset = (second - 1) * record_bytes
        elif len(ptr) == 2 and isinstance(ptr[0], int):
            v, units = ptr                          # 5 <BYTES> form
            offset = (v - 1) if units == "BYTES" else (v - 1) * record_bytes
    elif isinstance(ptr, str):
        fname = ptr
    elif isinstance(ptr, int):
        offset = (ptr - 1) * record_bytes
    if fname is None:
        return label_path, offset                   # attached product
    d = os.path.dirname(os.path.abspath(label_path))
    for cand in (fname, fname.lower(), fname.upper()):
        p = os.path.join(d, cand)
        if os.path.exists(p):
            return p, offset
    raise DriverError(f"PDS data file {fname!r} not found next to label")


def read_pds(spark, path: str, lng_column: str = "LONGITUDE",
             lat_column: str = "LATITUDE") -> DataFrame:
    """Open a PDS3 labeled table as a DataFrame; tables with the
    longitude/latitude columns surface as Point features in the
    engine's ring model (the GDAL OGR_PDS geometry convention)."""
    with open(path, "rb") as f:
        head = f.read()
    label = parse_odl(head.decode("ascii", "replace"))
    tables = _find_objects(label, "TABLE")
    if not tables:
        raise DriverError(f"no TABLE object in PDS label {path!r}")
    table = tables[0]
    columns = _find_objects(table, "COLUMN")
    if not columns:
        raise DriverError("PDS TABLE declares no COLUMN objects")
    rows_n = table.get("ROWS")
    row_bytes = table.get("ROW_BYTES")
    fmt = str(table.get("INTERCHANGE_FORMAT", "ASCII")).upper()
    if rows_n is None or row_bytes is None:
        raise DriverError("PDS TABLE needs ROWS and ROW_BYTES")

    data_path, offset = _resolve_pointer(label, path)
    with open(data_path, "rb") as f:
        f.seek(offset)
        blob = f.read(rows_n * row_bytes)
    if len(blob) < rows_n * row_bytes:
        raise DriverError(
            f"PDS table truncated: need {rows_n * row_bytes} bytes at "
            f"offset {offset}, file has {len(blob)}")

    cols = []
    for c in columns:
        name = str(c.get("NAME", f"col{len(cols)}"))
        dtype = str(c.get("DATA_TYPE", "CHARACTER")).upper()
        start = int(c.get("START_BYTE", 1)) - 1
        nbytes = int(c.get("BYTES", 0))
        items = int(c.get("ITEMS", 1))
        item_bytes = int(c.get("ITEM_BYTES", nbytes // max(items, 1)
                               or nbytes))
        cols.append((name, dtype, start, nbytes, items, item_bytes))

    decode = _decode_ascii if fmt == "ASCII" else _decode_binary
    recs = []
    for i in range(rows_n):
        rec = blob[i * row_bytes:(i + 1) * row_bytes]
        d = {}
        for (name, dtype, start, nbytes, items, item_bytes) in cols:
            if items > 1:
                d[name] = [decode(rec[start + j * item_bytes:
                                      start + (j + 1) * item_bytes], dtype)
                           for j in range(items)]
            else:
                d[name] = decode(rec[start:start + nbytes], dtype)
        recs.append(d)

    fields = []
    for (name, dtype, _s, _b, items, _ib) in cols:
        t = _spark_type(dtype)
        fields.append(f"`{name}` {f'array<{t}>' if items > 1 else t}")
    schema = ", ".join(fields)
    pdf = pd.DataFrame(recs, columns=[c[0] for c in cols])
    df = spark.createDataFrame(pdf, schema=schema)

    by_upper = {c[0].upper(): c[0] for c in cols}
    lngc = by_upper.get(lng_column.upper())
    latc = by_upper.get(lat_column.upper())
    if lngc and latc:
        df = with_ring_columns(df.withColumns({
            "geom_type": F.lit("Point"),
            "rings_xs": F.array(F.array(F.col(f"`{lngc}`").cast("double"))),
            "rings_ys": F.array(F.array(F.col(f"`{latc}`").cast("double"))),
        }))
    return df
