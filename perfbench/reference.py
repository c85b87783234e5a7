"""Engine-independent reference outputs and the digest they are compared by.

Every timed call in the benchmark ends in :func:`spark_digest`: an
order-independent digest ``(rows, sum crc32(row), sum crc32(reversed
row))`` over all output columns, where a row is its columns cast to
string and joined by ``|``.  The references below rebuild the same row
strings with numpy and plain Python from the input parquet alone; they
import nothing from ``fiona_spark``.

Doubles cannot be compared as strings across engines, so a workload
projects them to integers first (:data:`PROJECTIONS`): footprint bounds
pass through unchanged and are truncated at 1e-6; mean luminance of a
block is an exact multiple of 1/192 and per-image channel means of
1/n_px, so they are scaled back to their integer sums.

Digests are additive, so each is computed once per input chunk and
cached next to the chunk (``ref_<chunk>_<zones>.json``).
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np

import inputs

# output columns -> digest projection (Spark SQL per column)
PROJECTIONS = {
    "pip": ["image_id", "zone_id"],
    "knn": ["image_id", "zone_id", "knn_rank"],
    "cover": ["image_id", "CAST(xmin * 1e6 AS BIGINT)",
              "CAST(ymin * 1e6 AS BIGINT)", "CAST(xmax * 1e6 AS BIGINT)",
              "CAST(ymax * 1e6 AS BIGINT)", "cell"],
    "blocks": ["image_id", "bx", "by", "cell",
               "CAST(round(mean_lum * 192) AS BIGINT)"],
    "stats": ["image_id", "n_px", "CAST(round(mean_r * n_px) AS BIGINT)",
              "CAST(round(mean_g * n_px) AS BIGINT)",
              "CAST(round(mean_b * n_px) AS BIGINT)",
              "CAST(round(lum_p50 * 6) AS BIGINT)"],
    "verify": ["image_id", "fmt", "lossless_exact",
               "CAST(round(psnr_db) AS BIGINT)", "phash_match", "ok"],
}

COVER_RES = 9
SHARD_RES = 2
BLOCK_RES = 12
BLOCK = 8
KNN_K = 3
PSNR_CAP = 999


# ---------------------------------------------------------------------------
# digest
# ---------------------------------------------------------------------------

def spark_digest(df, kind: str) -> list[int]:
    """Digest of a DataFrame's rows under ``PROJECTIONS[kind]`` (one job)."""
    from pyspark.sql import functions as F

    row = F.concat_ws("|", *[F.expr(e).cast("string")
                             for e in PROJECTIONS[kind]])
    out = (df.select(row.alias("_r"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.crc32(F.col("_r"))).alias("a"),
                F.sum(F.crc32(F.reverse(F.col("_r")))).alias("b"))
           .collect()[0])
    return [int(out["n"]), int(out["a"] or 0), int(out["b"] or 0)]


def digest_rows(rows) -> list[int]:
    n = a = b = 0
    for r in rows:
        n += 1
        a += zlib.crc32(r.encode())
        b += zlib.crc32(r[::-1].encode())
    return [n, a, b]


def add(*ds) -> list[int]:
    return [sum(d[i] for d in ds) for i in range(3)]


def _trunc6(v: np.ndarray) -> np.ndarray:
    return np.trunc(v * 1e6).astype(np.int64)


# ---------------------------------------------------------------------------
# grid cells: res * 2**58 + yi * 2**res + xi over the lon/lat quadtree
# ---------------------------------------------------------------------------

def _xi(x, res):
    return np.floor((x + 180.0) / 360.0 * (1 << res)).astype(np.int64)


def _yi(y, res):
    return np.floor((y + 90.0) / 180.0 * (1 << res)).astype(np.int64)


def _pack(xi, yi, res):
    return np.int64(res) * (np.int64(1) << 58) + yi * (1 << res) + xi


def point_cell(x, y, res):
    n = 1 << res
    return _pack(np.clip(_xi(x, res), 0, n - 1), np.clip(_yi(y, res), 0, n - 1),
                 res)


def covering(xmin, ymin, xmax, ymax, res):
    """Per bbox: array of covering cell ids.  Columns wrap modulo the
    grid width when a box crosses the antimeridian."""
    n = 1 << res
    x0 = _xi(xmin, res)
    x1 = _xi(xmax, res)
    x0 = np.where(xmin < -180.0, x0, np.clip(x0, 0, n - 1))
    x1 = np.where(xmax > 180.0, x1, np.clip(x1, 0, n - 1))
    x1 = np.minimum(x1, x0 + n - 1)
    y0 = np.clip(_yi(ymin, res), 0, n - 1)
    y1 = np.clip(_yi(ymax, res), 0, n - 1)
    out = []
    for a, b, c, d in zip(x0, x1, y0, y1):
        ys = np.arange(c, d + 1, dtype=np.int64)
        xs = np.mod(np.arange(a, b + 1, dtype=np.int64), n)
        out.append(_pack(np.tile(xs, len(ys)), np.repeat(ys, len(xs)), res))
    return out


# ---------------------------------------------------------------------------
# spatial references
# ---------------------------------------------------------------------------

def _inside(px, py, xs, ys) -> np.ndarray:
    """Even-odd ray crossing of points against one closed ring."""
    x0, y0 = xs, ys
    x1, y1 = np.roll(xs, -1), np.roll(ys, -1)
    inside = np.zeros(len(px), bool)
    for a, b, c, d in zip(x0, y0, x1, y1):
        span = (b > py) != (d > py)
        if span.any():
            xc = a + (py[span] - b) * (c - a) / (d - b)
            hit = np.zeros(len(px), bool)
            hit[span] = px[span] < xc
            inside ^= hit
    return inside


def pip_rows(img, zones) -> list[str]:
    """(image_id, zone_id) for every point strictly inside a zone."""
    px, py = img["lng"], img["lat"]
    rows = []
    for z in range(len(zones["zone_id"])):
        xs, ys = zones["xs"][z], zones["ys"][z]
        hit = np.zeros(len(px), bool)
        shifts = (0.0, 360.0, -360.0) if (xs.max() > 180 or xs.min() < -180) \
            else (0.0,)
        for s in shifts:
            qx = px + s
            cand = np.flatnonzero((qx >= xs.min()) & (qx <= xs.max())
                                  & (py >= ys.min()) & (py <= ys.max()))
            if len(cand):
                hit[cand] |= _inside(qx[cand], py[cand], xs, ys)
        zid = zones["zone_id"][z]
        rows.extend(f"{img['image_id'][i]}|{zid}" for i in np.flatnonzero(hit))
    return rows


def knn_rows(img, zones, k: int = KNN_K) -> list[str]:
    """k nearest zone centroids per point, ranked by (distance, zone_id)."""
    order = np.argsort(zones["zone_id"], kind="stable")
    zx, zy = zones["clng"][order], zones["clat"][order]
    zid = zones["zone_id"][order]
    rows = []
    step = 500
    for s in range(0, len(img["lng"]), step):
        px = img["lng"][s:s + step, None]
        py = img["lat"][s:s + step, None]
        dx, dy = px - zx[None, :], py - zy[None, :]
        d = np.sqrt(dx * dx + dy * dy)
        top = np.argsort(d, axis=1, kind="stable")[:, :k]
        for j, t in enumerate(top):
            iid = img["image_id"][s + j]
            rows.extend(f"{iid}|{zid[t[r]]}|{r + 1}" for r in range(len(t)))
    return rows


def cover_rows(img, res: int = COVER_RES) -> list[str]:
    cov = covering(img["xmin"], img["ymin"], img["xmax"], img["ymax"], res)
    q = [_trunc6(img[c]) for c in ("xmin", "ymin", "xmax", "ymax")]
    rows = []
    for i, cs in enumerate(cov):
        head = f"{img['image_id'][i]}|{q[0][i]}|{q[1][i]}|{q[2][i]}|{q[3][i]}"
        rows.extend(f"{head}|{c}" for c in cs)
    return rows


def shard_stats(img, res: int = COVER_RES, shard_res: int = SHARD_RES):
    """shard -> [rows, cell_min, cell_max] of the covering rows, sharded
    by the res-2 cell of each footprint's center."""
    cov = covering(img["xmin"], img["ymin"], img["xmax"], img["ymax"], res)
    shard = point_cell((img["xmin"] + img["xmax"]) / 2.0,
                       (img["ymin"] + img["ymax"]) / 2.0, shard_res)
    out: dict[str, list[int]] = {}
    for s, cs in zip(shard, cov):
        st = out.setdefault(str(int(s)), [0, int(cs.min()), int(cs.max())])
        st[0] += len(cs)
        st[1] = min(st[1], int(cs.min()))
        st[2] = max(st[2], int(cs.max()))
    return out


def merge_shards(parts) -> dict[str, list[int]]:
    out: dict[str, list[int]] = {}
    for p in parts:
        for k, (n, lo, hi) in p.items():
            st = out.setdefault(k, [0, lo, hi])
            st[0] += n
            st[1] = min(st[1], lo)
            st[2] = max(st[2], hi)
    return out


def manifest_digest(shards: dict) -> list[int]:
    """Digest of a checkpoint manifest's deterministic columns."""
    return digest_rows(f"{k}|committed|{n}|0|{lo}|{hi}"
                       for k, (n, lo, hi) in shards.items())


# ---------------------------------------------------------------------------
# payload references (format spec decoders, written from the codec docs)
# ---------------------------------------------------------------------------

def decode(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    n = w * h * 3
    b = np.frombuffer(data, np.uint8)
    if fmt == "raw":
        flat = b[:n]
    elif fmt == "rle":                      # (count, value) byte pairs
        flat = np.repeat(b[1::2], b[0::2].astype(np.int64))
    elif fmt == "q6":                       # 4 samples per 3 bytes, LSB first
        t = b[: n // 4 * 3].reshape(-1, 3).astype(np.uint16)
        q = np.empty((len(t), 4), np.uint16)
        q[:, 0] = t[:, 0] & 63
        q[:, 1] = (t[:, 0] >> 6) | ((t[:, 1] & 15) << 2)
        q[:, 2] = (t[:, 1] >> 4) | ((t[:, 2] & 3) << 4)
        q[:, 3] = t[:, 2] >> 2
        flat = (q.ravel() * 255 // 63).astype(np.uint8)
    else:
        raise ValueError(fmt)
    if flat.size != n:
        raise ValueError(f"{fmt} payload decodes to {flat.size}, expected {n}")
    return flat.reshape(h, w, 3)


def block_rows(img, res: int = BLOCK_RES, block: int = BLOCK) -> list[str]:
    rows = []
    for i in range(len(img["image_id"])):
        w, h = int(img["w"][i]), int(img["h"][i])
        nbx, nby = w // block, h // block
        px = decode(img["bytes"][i], img["fmt"][i], w, h).astype(np.int64)
        s = px[: nby * block, : nbx * block].sum(axis=2)
        sums = s.reshape(nby, block, nbx, block).sum(axis=(1, 3))
        x0, x1 = img["xmin"][i], img["xmax"][i]
        y0, y1 = img["ymin"][i], img["ymax"][i]
        cx = x0 + (np.arange(nbx) + 0.5) / nbx * (x1 - x0)
        cy = y1 - (np.arange(nby) + 0.5) / nby * (y1 - y0)
        cell = point_cell(np.tile(cx, nby), np.repeat(cy, nbx), res)
        iid = img["image_id"][i]
        for by in range(nby):
            for bx in range(nbx):
                rows.append(f"{iid}|{bx}|{by}|{cell[by * nbx + bx]}"
                            f"|{sums[by, bx]}")
    return rows


def stats_rows(img) -> list[str]:
    rows = []
    for i in range(len(img["image_id"])):
        w, h = int(img["w"][i]), int(img["h"][i])
        px = decode(img["bytes"][i], img["fmt"][i], w, h).astype(np.int64)
        ch = px.reshape(-1, 3).sum(axis=0)
        lum = np.sort(px.sum(axis=2).ravel())    # 3 x luminance
        m = len(lum)
        p50x6 = 2 * lum[m // 2] if m % 2 else lum[m // 2 - 1] + lum[m // 2]
        rows.append(f"{img['image_id'][i]}|{w * h}|{ch[0]}|{ch[1]}|{ch[2]}"
                    f"|{p50x6}")
    return rows


def verify_rows(img) -> list[str]:
    """Every fixture payload round-trips exactly, so every row is ok."""
    return [f"{iid}|{fmt}|true|{PSNR_CAP}|true|true"
            for iid, fmt in zip(img["image_id"], img["fmt"])]


# ---------------------------------------------------------------------------
# per-chunk cache
# ---------------------------------------------------------------------------

_IMG_COLS = ["image_id", "bytes", "w", "h", "fmt", "lng", "lat",
             "xmin", "ymin", "xmax", "ymax"]


def load_zones(path: str) -> dict:
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    z = {c: t.column(c).to_numpy() for c in ("zone_id", "xmin", "ymin",
                                               "xmax", "ymax", "clng", "clat")}
    z["zone_id"] = np.asarray(z["zone_id"], dtype=object)
    z["xs"] = [np.asarray(v, np.float64) for v in t.column("xs").to_pylist()]
    z["ys"] = [np.asarray(v, np.float64) for v in t.column("ys").to_pylist()]
    return z


def _load_chunk(c: int, cache: str) -> dict:
    t = inputs.read_chunk(c, cache, columns=_IMG_COLS)
    img = {name: t.column(name).to_numpy(zero_copy_only=False)
           for name in _IMG_COLS}
    img["bytes"] = t.column("bytes").to_pylist()
    return img


_BUILDERS = {
    "pip": lambda img, z: digest_rows(pip_rows(img, z)),
    "knn": lambda img, z: digest_rows(knn_rows(img, z)),
    "cover": lambda img, z: digest_rows(cover_rows(img)),
    "shards": lambda img, z: shard_stats(img),
    "blocks": lambda img, z: digest_rows(block_rows(img)),
    "stats": lambda img, z: digest_rows(stats_rows(img)),
    "verify": lambda img, z: digest_rows(verify_rows(img)),
}


def chunk_refs(chunks, kinds, zones_path: str | None,
               cache: str = inputs.CACHE) -> list[dict]:
    """Per-chunk reference entries for ``kinds``, computed once and cached."""
    zones = None
    ztag = os.path.basename(zones_path).split(".")[0] if zones_path else "nz"
    out = []
    for c in chunks:
        path = os.path.join(cache, "refs", f"ref_{c:05d}_{ztag}.json")
        ref = {}
        if os.path.exists(path):
            with open(path) as f:
                ref = json.load(f)
        todo = [k for k in kinds if k not in ref]
        if todo:
            img = _load_chunk(c, cache)
            for k in todo:
                if k in ("pip", "knn") and zones is None:
                    zones = load_zones(zones_path)
                ref[k] = _BUILDERS[k](img, zones)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tmp = f"{path}.tmp.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(ref, f)
            os.replace(tmp, path)
        out.append(ref)
    return out


def expected(chunks, kinds, zones_path, cache: str = inputs.CACHE) -> dict:
    """Reference digests over ``chunks`` for each kind."""
    refs = chunk_refs(chunks, kinds, zones_path, cache)
    exp = {}
    for k in kinds:
        if k == "shards":
            exp[k] = merge_shards(r[k] for r in refs)
        else:
            exp[k] = add(*(r[k] for r in refs))
    return exp
