"""Deterministic image codecs + pixel metrics, pure numpy.

PIL/cv2 are not installed in this environment, so the engine defines its
own byte formats for the ``bytes``/``fmt`` columns of the image+caption
table (BASELINE.json input_hint).  Binary fields are first-class in the
reference (`fiona/ogrext.pyx:335-347` OFTBinary); the codecs below are
the payload-axis analogue of its geometry encode/decode round-trip
(`fiona/_geometry.pyx:374-380` geometryRT):

  * ``raw`` — uint8 RGB, C-order h*w*3 bytes (lossless)
  * ``rle`` — byte-level run-length (count,value) pairs, runs <= 255
              (lossless)
  * ``q6``  — 6-bit/channel uniform quantization, 3 samples packed into
              18 bits little-endian bit stream (lossy; PSNR ~46 dB on
              natural gradients, comfortably over the 40 dB gate)
  * ``q4``  — 4-bit/channel, 2 samples/byte (lossy, ~34 dB; kept for
              the "reject below-gate format" negative test)

One batch core does the work.  A group of same-(fmt, w, h) payloads is
one flat uint8 buffer plus int64 offsets, payload i being
``buf[offs[i]:offs[i + 1]]`` with the payloads back to back (the layout
of an Arrow binary column): :func:`decode_core` turns it into an
``(m, h, w, 3)`` stack, :func:`encode_core` turns a stack back into
buffer + offsets, and :func:`psnr_batch` / :func:`phash_batch` work on
decoded stacks.  ``decode``, ``decode_batch``, ``encode``, ``psnr`` and
``phash64`` are thin calls into it; the Spark operators feed it straight
from Arrow buffers (``operators.images.decoded_chunks``).

A payload is accepted only at its exact length for the declared (w, h);
anything else raises one ``ValueError`` naming fmt, w x h and the bytes
got against the bytes expected.
"""

from __future__ import annotations

import numpy as np

LOSSLESS = {"raw", "rle"}
LOSSY = {"q6", "q4"}
FORMATS = LOSSLESS | LOSSY

# dequantization tables: q * 255 // 63 and q * 17 precomputed over the
# 6-/4-bit domains (a table gather instead of a per-sample widen/
# multiply/divide chain)
_Q6_LUT = (np.arange(64, dtype=np.uint16) * 255 // 63).astype(np.uint8)
_Q4_LUT = (np.arange(16, dtype=np.uint16) * 17).astype(np.uint8)


def _fixed_len(fmt: str, n: int) -> int:
    """Encoded bytes of ``n`` samples for the fixed-length formats."""
    if fmt == "raw":
        return n
    if fmt == "q6":
        return (6 * n + 7) // 8
    if fmt == "q4":
        return (n + 1) // 2
    raise ValueError(f"unknown fmt {fmt!r}")


def _reject(fmt, w, h, got, expected):
    raise ValueError(f"{fmt} payload declared {w}x{h}: got {got} bytes, "
                     f"expected {expected}")


# ---------------------------------------------------------------------------
# Batch core
# ---------------------------------------------------------------------------

def decode_core(buf: np.ndarray, offs: np.ndarray, fmt: str, w: int,
                h: int) -> np.ndarray:
    """Decode back-to-back same-(fmt, w, h) payloads -> (m, h, w, 3)."""
    offs = np.asarray(offs, np.int64)
    m = len(offs) - 1
    lens = np.diff(offs)
    n = 3 * w * h
    if w < 0 or h < 0:
        _reject(fmt, w, h, lens[0] if m else 0, "none (negative dimension)")
    flat = buf[offs[0]:offs[-1]]
    if fmt == "rle":
        odd = lens % 2 == 1
        if odd.any():
            _reject(fmt, w, h, lens[odd][0], "an even count")
        runs = flat[0::2]
        # per-image run totals, so runs cannot bleed across images
        # (reduceat over the non-empty payloads; an empty one sums to 0)
        got = np.zeros(m, np.int64)
        full = lens > 0
        got[full] = np.add.reduceat(runs, (offs[:-1][full] - offs[0]) // 2,
                                    dtype=np.int64)
        bad = got != n
        if bad.any():
            _reject(fmt, w, h, f"{got[bad][0]} decoded", n)
        return np.repeat(flat[1::2], runs).reshape(m, h, w, 3)
    want = _fixed_len(fmt, n)
    bad = lens != want
    if bad.any():
        _reject(fmt, w, h, lens[bad][0], want)
    mat = flat.reshape(m, want)
    if fmt == "raw":
        return mat.reshape(m, h, w, 3)
    if fmt == "q4":
        q = np.empty((m, want, 2), np.uint8)
        q[..., 0] = mat & 0x0F
        q[..., 1] = mat >> 4
        lut = _Q4_LUT
    else:
        # 3 bytes <-> 4 six-bit samples, LSB first; a partial last
        # group is zero-padded to whole bytes, then sliced off below
        groups = -(-n // 4)
        if 3 * groups != want:
            mat = np.pad(mat, ((0, 0), (0, 3 * groups - want)))
        b0, b1, b2 = (mat.reshape(m, groups, 3)[..., k] for k in range(3))
        q = np.empty((m, groups, 4), np.uint8)
        q[..., 0] = b0 & 0x3F
        q[..., 1] = (b0 >> 6) | ((b1 & 0x0F) << 2)
        q[..., 2] = (b1 >> 4) | ((b2 & 0x03) << 4)
        q[..., 3] = b2 >> 2
        lut = _Q6_LUT
    return lut[q.reshape(m, -1)[:, :n]].reshape(m, h, w, 3)


def encode_core(imgs: np.ndarray, fmt: str):
    """Encode an (m, h, w, 3) uint8 stack -> (buf, offs), the layout
    :func:`decode_core` reads."""
    flat = np.ascontiguousarray(imgs, dtype=np.uint8).reshape(len(imgs), -1)
    m, n = flat.shape
    if fmt == "rle":
        return _rle_runs(flat)
    want = _fixed_len(fmt, n)
    if fmt == "raw":
        mat = flat
    elif fmt == "q4":
        q = np.pad(flat >> 4, ((0, 0), (0, 2 * want - n)))
        mat = q[:, 0::2] | (q[:, 1::2] << 4)
    else:
        groups = -(-n // 4)
        q = np.pad(flat >> 2, ((0, 0), (0, 4 * groups - n)))
        q0, q1, q2, q3 = (q.reshape(m, groups, 4)[..., k] for k in range(4))
        mat = np.empty((m, groups, 3), np.uint8)
        mat[..., 0] = q0 | (q1 << 6)
        mat[..., 1] = (q1 >> 2) | (q2 << 4)
        mat[..., 2] = (q2 >> 4) | (q3 << 2)
        mat = mat.reshape(m, -1)[:, :want]
    return (np.ascontiguousarray(mat).reshape(-1),
            np.arange(m + 1, dtype=np.int64) * want)


def _rle_runs(flat: np.ndarray):
    """RLE of each row of an (m, n) uint8 matrix: runs break at value
    changes and at image starts, runs over 255 split into 255s plus the
    remainder.  When no run is over 255 (the common case) every run is
    one (length, value) pair and the split is skipped; both ways give
    the same bytes.  The int64 per-run arrays are the encoder's peak
    memory, so they are updated in place."""
    m, n = flat.shape
    if flat.size == 0:
        return np.empty(0, np.uint8), np.zeros(m + 1, np.int64)
    v = flat.reshape(-1)
    brk = np.empty(v.size, bool)
    brk[0] = True
    np.not_equal(v[1:], v[:-1], out=brk[1:])
    brk[::n] = True
    starts = np.flatnonzero(brk)
    lengths = np.diff(starts, append=v.size)
    first = np.searchsorted(starts, np.arange(m + 1) * n)
    if lengths.max() <= 255:
        pairs = np.empty((len(starts), 2), np.uint8)
        pairs[:, 0] = lengths
        pairs[:, 1] = v[starts]
        return pairs.reshape(-1), 2 * first
    reps = lengths + 254
    reps //= 255
    last = np.cumsum(reps)
    pairs = np.empty((last[-1], 2), np.uint8)
    pairs[:, 0] = 255
    lengths -= 255 * (reps - 1)         # the last piece of each run
    pairs[last - 1, 0] = lengths
    pairs[:, 1] = np.repeat(v[starts], reps)
    offs = 2 * np.concatenate(([0], last))[first]
    return pairs.reshape(-1), offs


def psnr_batch(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per-image peak SNR in dB between two uint8 stacks; inf when
    identical.  The squared error sums are exact integers."""
    m = len(a)
    d = (np.maximum(a, b) - np.minimum(a, b)).reshape(m, -1).astype(np.uint16)
    sse = (d * d).sum(axis=1, dtype=np.int64)
    with np.errstate(divide="ignore"):
        return 10.0 * np.log10(255.0 ** 2 / (sse / d.shape[1]))


def phash_batch(imgs: np.ndarray) -> np.ndarray:
    """Per-image 64-bit perceptual hash (int64) of an (m, h, w, 3) stack:
    8x8 block-mean of grayscale vs median.

    Deterministic integer-friendly pipeline: grayscale via fixed-point
    (77R + 150G + 29B) >> 8, exact block sums over an 8x8 grid (image
    dims are multiples of 8 in the fixtures; general dims use trimmed
    equal blocks), bit i set when block i > median.

    The gray is built plane-wise in ``uint16``: each channel plane is
    widened before its multiply (numpy's value-based casting would keep
    ``plane * 77`` in uint8), and the weighted sum is at most
    (77 + 150 + 29) * 255 = 65,280, so it cannot wrap.  Block sums are
    two reductions, along each block row, then down each block column,
    so neither runs over a strided 2-axis window; integer sums are the
    same in any order.
    """
    m, h, w = imgs.shape[:3]
    bh, bw = h // 8, w // 8
    px = imgs[:, : bh * 8, : bw * 8]
    gray = np.multiply(px[..., 0], 77, dtype=np.uint16)
    gray += np.multiply(px[..., 1], 150, dtype=np.uint16)
    gray += np.multiply(px[..., 2], 29, dtype=np.uint16)
    gray >>= 8
    rows = gray.reshape(m, 8, bh, 8, bw).sum(axis=4, dtype=np.uint32)
    means = rows.sum(axis=2, dtype=np.int64).reshape(m, 64)
    bits = means > np.median(means, axis=1)[:, None]
    # bit i -> bit i of a little-endian uint64, read as two's complement
    return np.packbits(bits, axis=1, bitorder="little").view("<i8")[:, 0]


# ---------------------------------------------------------------------------
# One-image / list entry points
# ---------------------------------------------------------------------------

def encode(img: np.ndarray, fmt: str) -> bytes:
    return encode_core(np.asarray(img)[None], fmt)[0].tobytes()


def decode(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    return decode_core(np.frombuffer(data, np.uint8), [0, len(data)],
                       fmt, w, h)[0]


def decode_batch(datas: list, fmt: str, w: int, h: int) -> np.ndarray:
    """Decode a SAME-(fmt,w,h) payload list -> ``(len(datas), h, w, 3)``
    uint8 in one :func:`decode_core` pass over the joined payloads."""
    offs = np.concatenate(([0], np.cumsum([len(d) for d in datas],
                                          dtype=np.int64)))
    return decode_core(np.frombuffer(b"".join(datas), np.uint8), offs,
                       fmt, w, h)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak SNR in dB between two uint8 images; inf when identical."""
    return float(psnr_batch(np.asarray(a)[None], np.asarray(b)[None])[0])


def phash64(img: np.ndarray) -> int:
    """64-bit perceptual hash of one image (see :func:`phash_batch`)."""
    return int(phash_batch(np.asarray(img)[None])[0])


def hamming64(a, b) -> np.ndarray:
    """Vectorized Hamming distance between int64 phashes: a popcount of
    the XOR's eight bytes."""
    x = (np.asarray(a, dtype=np.int64) ^ np.asarray(b, dtype=np.int64))[..., None]
    return np.unpackbits(x.view(np.uint8), axis=-1).sum(axis=-1, dtype=np.int64)
