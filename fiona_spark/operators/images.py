"""Image-payload operators over the (image_id, bytes, fmt, w, h, ...) table.

The payload axis of the graft: binary image columns are decoded,
verified and feature-extracted inside ``mapInArrow`` batches — never
per-row Python in the plan.  Every payload operator (``decode_stats``,
``verify_roundtrip``, ``resize`` here and ``spatial.block_tiles``) runs
over :func:`decoded_chunks`: payloads are sliced out of the Arrow
binary buffer, grouped by (fmt, w, h) and decoded by the one
``codec.decode_core`` pass in ``CHUNK_PX``-bounded chunks; per-image
results are numpy reductions along the image axis.  This mirrors how
the reference treats binary fields as first-class values
(`fiona/ogrext.pyx:335-347` OFTBinary get/set) and its round-trip test
discipline (`fiona/_geometry.pyx:374-380` geometryRT; write-then-read
tests `tests/test_write.py`), applied to pixels instead of geometries.

Verification contract (BASELINE.json input_hint):
  * decoded pixels allclose vs the reference decode — lossless formats
    byte-identical, lossy formats PSNR >= 40 dB;
  * caption equality per image_id;
  * stored phash == phash recomputed from the decoded payload.

Multimodal stubs: ``resize`` / ``frame_sample`` for real image/video
libraries are declared with full Spark plumbing (schema, batching) but
raise NotImplementedError for formats the sandbox can't decode — per
the build contract, the Spark side is real, the exotic codec is not.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from .. import codec

# Decoded pixels per chunk.  Bounding the chunk keeps decode temporaries
# at ~10-20 MB: on hosts with expensive first-touch (lazy VM memory),
# whole-group stacks (80+ MB per group per batch, fresh mmaps) stalled
# the first wave of workers on page-fault service; bounded chunks land
# on the reused heap after the first chunk.
CHUNK_PX = 2_000_000


def decoded_chunks(rb: pa.RecordBatch, chunk_px: int = CHUNK_PX):
    """Decode the payloads of one Arrow batch with columns image_id,
    bytes, fmt, w, h -> yields ``(rows, fmt, w, h, imgs)`` per chunk of
    one (fmt, w, h) group, ``rows`` indexing ``rb`` and ``imgs`` the
    ``(len(rows), h, w, 3)`` stack, at most ``chunk_px`` pixels per chunk
    (one image if it is larger).

    A null payload, fmt, w or h raises ``ValueError`` naming the image;
    a payload that is not exactly its declared size raises the codec's
    ``ValueError``.
    """
    by_a = rb.column("bytes")
    fmt_a, w_a, h_a = rb.column("fmt"), rb.column("w"), rb.column("h")
    for c in (by_a, fmt_a, w_a, h_a):
        if c.null_count:
            i = int(np.flatnonzero(c.is_null().to_numpy(zero_copy_only=False))[0])
            raise ValueError("null payload, fmt, w or h for image_id "
                             f"{rb.column('image_id')[i].as_py()!r}")
    fmts, fmt_inv = np.unique(
        fmt_a.to_numpy(zero_copy_only=False).astype(str), return_inverse=True)
    keys = np.stack([fmt_inv, w_a.to_numpy(zero_copy_only=False),
                     h_a.to_numpy(zero_copy_only=False)], axis=1)
    groups, inv = np.unique(keys, axis=0, return_inverse=True)
    order = np.argsort(inv.ravel(), kind="stable")
    bnd = np.searchsorted(inv.ravel()[order], np.arange(len(groups) + 1))
    off_dtype = np.int64 if pa.types.is_large_binary(by_a.type) else np.int32
    offs_all = np.frombuffer(by_a.buffers()[1], off_dtype)[
        by_a.offset: by_a.offset + len(by_a) + 1].astype(np.int64)
    data = np.frombuffer(by_a.buffers()[2] or b"", np.uint8)
    for (f, w, h), g0, g1 in zip(groups, bnd[:-1], bnd[1:]):
        fmt, w, h = str(fmts[f]), int(w), int(h)
        step = max(1, chunk_px // max(1, w * h))
        for s in range(g0, g1, step):
            rows = order[s:min(s + step, g1)]
            lo, hi = offs_all[rows], offs_all[rows + 1]
            # the chunk's payloads back to back: one memcpy per payload
            # into a numpy buffer (an Arrow take per chunk left ~10 MB
            # more resident per Python worker)
            buf = np.concatenate([data[a:b] for a, b in zip(lo, hi)])
            offs = np.concatenate(([0], np.cumsum(hi - lo)))
            yield rows, fmt, w, h, codec.decode_core(buf, offs, fmt, w, h)


def emit_batch(rb: pa.RecordBatch, parts: list, names: list, types: list):
    """One output batch from per-chunk ``(rows, col, ...)`` tuples: the
    input's image_id at ``rows``, then each column (numpy parts are
    converted to ``types``; Arrow parts are concatenated as they are)."""
    cols = [rb.column("image_id").take(pa.array(np.concatenate([p[0] for p in parts])))]
    for k, t in enumerate(types, 1):
        vals = [p[k] for p in parts]
        cols.append(pa.concat_arrays(vals) if isinstance(vals[0], pa.Array)
                    else pa.array(np.concatenate(vals), type=t))
    return pa.RecordBatch.from_arrays(cols, names=["image_id"] + names)


DECODE_STATS_SCHEMA = ("image_id string, n_px long, mean_r double, "
                       "mean_g double, mean_b double, lum_p50 double")


def decode_stats(images: DataFrame) -> DataFrame:
    """Decode every payload and emit per-image pixel statistics.

    One ``mapInArrow`` pass over :func:`decoded_chunks`, plane-wise
    (``imgs[..., c]``, never a reduction over the 3-wide channel axis):
    channel means are one exact int64 row sum per plane / n_px, and the
    luminance median is taken on the uint16 plane sum (at most 765, so
    exact) by ``partition`` at the middle rank(s), then divided by 3.0
    with numpy's own median steps: ``a / 3.0`` for odd ``n_px``,
    ``(a / 3.0 + b / 3.0) / 2.0`` for even.  Dividing by 3.0 keeps the
    order of the sums, so this is bit-identical to ``np.median`` of the
    float64 per-pixel channel mean.  Column-pruned input: only the 5
    needed columns reach Python.
    """
    def run(batches):
        for rb in batches:
            parts = []
            for rows, _, w, h, imgs in decoded_chunks(rb):
                m, n_px = len(rows), w * h
                means = [imgs[..., c].reshape(m, n_px).sum(axis=1, dtype=np.int64)
                         / n_px for c in range(3)]
                lum = plane_sum(imgs).reshape(m, n_px)
                parts.append((rows, np.full(m, n_px, np.int64), *means,
                              _median_thirds(lum)))
            if parts:
                yield emit_batch(
                    rb, parts, ["n_px", "mean_r", "mean_g", "mean_b", "lum_p50"],
                    [pa.int64()] + [pa.float64()] * 4)

    return images.select("image_id", "bytes", "fmt", "w", "h").mapInArrow(
        run, DECODE_STATS_SCHEMA)


def plane_sum(imgs: np.ndarray) -> np.ndarray:
    """The uint16 sum R + G + B of an (m, h, w, 3) stack -> (m, h, w):
    at most 765, so exact.  Three whole-plane adds are several times
    faster than numpy's reduction over the 3-wide channel axis."""
    s = imgs[..., 0].astype(np.uint16)
    s += imgs[..., 1]
    s += imgs[..., 2]
    return s


def _median_thirds(s: np.ndarray) -> np.ndarray:
    """``np.median(s / 3.0, axis=1)`` of an (m, n) integer matrix, bit
    for bit, without the float64 copy; ``s`` is partitioned in place.
    A row with no element gives NaN, as ``np.median`` does."""
    n = s.shape[1]
    if n == 0:
        return np.full(len(s), np.nan)
    k = n // 2
    if n % 2:
        s.partition(k, axis=1)
        return s[:, k] / 3.0
    s.partition((k - 1, k), axis=1)
    return (s[:, k - 1] / 3.0 + s[:, k] / 3.0) / 2.0


def verify_roundtrip(images: DataFrame, psnr_gate: float = 40.0) -> DataFrame:
    """Re-encode + decode each payload and verify the input_hint gates.

    Output per image: (image_id, fmt, lossless_exact, psnr_db,
    phash_match, ok).  ``ok`` means: lossless formats byte-identical,
    lossy formats PSNR >= gate, and the stored phash equals the phash
    recomputed from decoded pixels.  Each chunk is encoded and decoded
    again as a whole stack, so it holds the decoded, encoded and
    re-decoded stacks at once, and an RLE encode keeps ~40 bytes of
    int64 run temporaries per sample, about three times a decode's: its
    pixel bound is ``CHUNK_PX // 32`` (62,500 pixels, a ~9 MB peak).
    """
    schema = ("image_id string, fmt string, lossless_exact boolean, "
              "psnr_db double, phash_match boolean, ok boolean")

    def run(batches):
        for rb in batches:
            ph = rb.column("phash")
            stored = ph.fill_null(0).to_numpy()
            known = ph.is_valid().to_numpy(zero_copy_only=False)
            parts = []
            for rows, fmt, w, h, img in decoded_chunks(rb, CHUNK_PX // 32):
                buf, offs = codec.encode_core(img, fmt)
                p = codec.psnr_batch(img, codec.decode_core(buf, offs, fmt, w, h))
                exact = p == np.inf
                ph_ok = (codec.phash_batch(img) == stored[rows]) & known[rows]
                gate = exact if fmt in codec.LOSSLESS else exact | (p >= psnr_gate)
                parts.append((rows, np.full(len(rows), fmt, object), exact,
                              np.minimum(p, 999.0), ph_ok, gate & ph_ok))
            if parts:
                yield emit_batch(
                    rb, parts, ["fmt", "lossless_exact", "psnr_db",
                                "phash_match", "ok"],
                    [pa.string(), pa.bool_(), pa.float64(), pa.bool_(),
                     pa.bool_()])

    return images.select("image_id", "bytes", "fmt", "w", "h", "phash"
                         ).mapInArrow(run, schema)


def caption_check(images: DataFrame, reference: DataFrame) -> DataFrame:
    """Per-image caption equality vs a reference table (input_hint).

    Plain equi-join on image_id — Catalyst broadcast/shuffle decides —
    with a null-safe comparison so missing rows surface as mismatches.
    """
    ref = reference.select(F.col("image_id"),
                           F.col("caption").alias("ref_caption"))
    return (images.select("image_id", "caption")
            .join(ref, "image_id", "full_outer")
            .select("image_id",
                    F.col("caption").eqNullSafe(F.col("ref_caption"))
                    .alias("caption_ok")))


def phash_hamming_pairs(images: DataFrame, max_dist: int = 10,
                        band_bits: int = 16) -> DataFrame:
    """Near-duplicate image pairs by phash Hamming distance.

    Scale path: banded LSH on the 64-bit phash (4 bands x 16 bits; two
    images within Hamming distance 3 share >= 1 exact band by
    pigeonhole).  Band equi-join produces candidates; the exact Hamming
    residual (JVM-side bit_count) filters.  No O(n^2) cross join.

    Recall bound: with the defaults (max_dist=10, band_bits=16) the
    pigeonhole guarantee covers only distance <= 3; pairs at distance
    4..10 are returned IF they share a band (best-effort, exact-verified)
    — pass band_bits <= 64 // (max_dist + 1) for full recall.
    """
    from .dedup import hamming_pairs
    # warn_recall=False: the best-effort regime past the pigeonhole
    # bound is this operator's documented contract (docstring above)
    out = hamming_pairs(images.select("image_id", "phash"), "image_id",
                        "phash", max_dist=max_dist, band_bits=band_bits,
                        warn_recall=False)
    return out.select(F.col("id_a").alias("image_id"),
                      F.col("id_b").alias("image_id_b"), "hamming")


# ---------------------------------------------------------------------------
# Multimodal stubs (real Spark plumbing, gated codec)
# ---------------------------------------------------------------------------

RESIZE_SCHEMA = "image_id string, w int, h int, bytes binary"


def resize(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of every payload to (out_w, out_h).

    Engine formats resize for real (numpy index sampling on each
    decoded chunk, output raw); unknown external formats (jpeg/png/...)
    raise NotImplementedError — the decode step is the stub, the Spark
    plumbing is not.
    """
    def run(batches):
        for rb in batches:
            unknown = (set(rb.column("fmt").unique().to_pylist())
                       - codec.FORMATS - {None})
            if unknown:
                raise NotImplementedError(
                    f"decoder for fmt={min(unknown)!r} requires an image "
                    "library not present in this environment")
            out_t = rb.column("bytes").type
            off_t = np.int64 if pa.types.is_large_binary(out_t) else np.int32
            parts = []
            for rows, _, w, h, imgs in decoded_chunks(rb):
                yi = (np.arange(out_h) * h) // out_h
                xi = (np.arange(out_w) * w) // out_w
                buf, offs = codec.encode_core(
                    imgs[:, yi[:, None], xi[None, :]], "raw")
                m = len(rows)
                small = pa.Array.from_buffers(
                    out_t, m, [None, pa.py_buffer(offs.astype(off_t)),
                               pa.py_buffer(buf)])
                parts.append((rows, np.full(m, out_w, np.int32),
                              np.full(m, out_h, np.int32), small))
            if parts:
                yield emit_batch(rb, parts, ["w", "h", "bytes"],
                                 [pa.int32(), pa.int32(), out_t])

    return images.select("image_id", "bytes", "fmt", "w", "h").mapInArrow(
        run, RESIZE_SCHEMA)
