"""Deduplication + similarity-search operators (training-data pipeline).

No Fiona counterpart — these are the web-scale data-curation operators
the engine adds on top of the reference's scan/filter model (the brief's
first-class extension set).  Everything below is expressed as DataFrame
transformations that stay inside whole-stage codegen (hashing, bitwise
ops, groupBy aggregates); the Python is Arrow-vectorized numpy over
embedding batches (sign-LSH signature, ``qdot_batch``, ``_sqdist``).

Scale design:
  * Candidate generation is always an equi-join on a band key (one
    core, ``_band_pairs``) — never an O(n^2) cross join.  Band keys are
    compact ints/strings, so the shuffle is small; banded self-joins of
    hot keys are bounded because a band bucket with B members yields B^2
    pairs — the ``max_bucket`` guard drops degenerate buckets
    (boilerplate-only shingles) exactly like web-dedup pipelines drop
    stop-shingles.  The degenerate set is TINY by construction, so it
    (not its complement) is what gets broadcast into a left_anti join —
    at 10^9 docs broadcasting the cold buckets (~n_docs x bands rows)
    would OOM the driver.
  * Exact verification (Jaccard / Hamming / cosine) runs only on
    candidate pairs.

Hash families: the production default is ``xxhash64`` (fastest JVM
hash).  ``md5_60`` derives a 60-bit integer from the first 15 hex chars
of md5 — slower, but computable bit-identically in any ANSI engine
(DuckDB: strpos/list_reduce over the hex digits), which is what makes
the LSH pipelines oracle-checkable end-to-end from raw text.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F, types as T

# Mersenne prime 2^61-1.  The universal hash h(x) = (a*x + b) mod P is
# evaluated in limbs that never exceed 2^63 (see _perm_hash_col), using
# 2^61 ≡ 1 (mod P) to fold the *2^31 shift without int64 overflow.
_P = (1 << 61) - 1


def _perm_coeffs(n_perm: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 31, n_perm, dtype=np.int64)
    b = rng.integers(0, 1 << 31, n_perm, dtype=np.int64)
    return a, b


def shingle_expr(text_col: str, n: int) -> Column:
    """Distinct-ready word n-shingle array, guarded for short docs.

    Documents with fewer than ``n`` words yield an EMPTY array (and so
    no shingles after explode) — without the CASE guard,
    sequence(0, size-n) on size<n builds a descending sequence and
    slice() throws at runtime, taking down the whole job.
    """
    ws = f"split({text_col}, ' ')"
    return F.expr(
        f"CASE WHEN size({ws}) >= {n} THEN "
        f"transform(sequence(0, size({ws}) - {n}), "
        f"i -> concat_ws(' ', slice({ws}, i + 1, {n}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END")


def word_shingles(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-shingles per document, JVM-side (split/transform)."""
    return (docs.select(id_col, F.explode(shingle_expr(text_col, n)).alias("shingle"))
            .distinct())


def _hash64_col(col: str, hash_fn: str) -> Column:
    """64-bit (xxhash64) or 60-bit (md5_60) integer hash of a string column."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    if hash_fn == "md5_60":
        # conv() parses hex -> decimal string; 15 hex chars = 60 bits,
        # always non-negative and < 2^60 (< P), so no sign handling
        return F.conv(F.substring(F.md5(F.col(col)), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def _perm_hash_col(x: Column, aj: int, bj: int) -> Column:
    """(aj * x + bj) mod P for 0 <= x < P, aj/bj < 2^31, exact in int64.

    a*x = a*xh*2^31 + a*xl with xl = x & (2^31-1), xh = x >> 31:
      * a*xh < 2^61 — reduce mod P -> y;
      * y*2^31 mod P via 2^61 ≡ 1: (y >> 30) + ((y & (2^30-1)) << 31),
        both limbs < 2^61, sum < 2^62;
      * + a*xl (< 2^62) + b: total < 2^63.  No intermediate overflows.
    """
    xl = x.bitwiseAND(F.lit((1 << 31) - 1))
    xh = F.shiftright(x, 31)
    y = F.pmod(F.lit(aj) * xh, F.lit(_P))
    hi = F.pmod(F.shiftright(y, 30)
                + F.shiftleft(y.bitwiseAND(F.lit((1 << 30) - 1)), 31), F.lit(_P))
    return F.pmod(hi + F.lit(aj) * xl + F.lit(bj), F.lit(_P))


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n_perm: int = 64,
                       shingle_n: int = 3, seed: int = 42,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """MinHash signature per document: n_perm int64 columns m0..m{n-1}.

    Universal-hash permutations h_j(x) = (a_j * x + b_j) mod (2^61-1)
    over hashed shingle values — all codegen'd column arithmetic, one
    groupBy(doc).min() per permutation (a single shuffle).
    """
    sh = word_shingles(docs, id_col, text_col, shingle_n)
    return _signatures_from_shingles(sh, id_col, n_perm, seed, hash_fn)


def _signatures_from_shingles(sh: DataFrame, id_col: str, n_perm: int,
                              seed: int, hash_fn: str) -> DataFrame:
    """Signature agg over an existing (id, shingle) frame — split out so
    ``minhash_lsh_pairs`` can share one persisted shingle frame between
    the signature agg and exact-Jaccard verification."""
    a, b = _perm_coeffs(n_perm, seed)
    x = F.pmod(_hash64_col("shingle", hash_fn), F.lit(_P))
    aggs = [F.min(_perm_hash_col(x, int(a[j]), int(b[j]))).alias(f"m{j}")
            for j in range(n_perm)]
    return sh.groupBy(id_col).agg(*aggs)


# ---------------------------------------------------------------------------
# Banded candidates (the one candidate core under every LSH operator)
# ---------------------------------------------------------------------------

def _band_mask(b: int, band_bits: int) -> int:
    """Signed int64 mask over bits [b*band_bits, (b+1)*band_bits)."""
    m = (((1 << band_bits) - 1) << (b * band_bits)) & 0xFFFFFFFFFFFFFFFF
    return m - (1 << 64) if m >= (1 << 63) else m


def _explode_bands(df: DataFrame, id_col: str, keys: list[Column],
                   carry: tuple = ()) -> DataFrame:
    """(id, band, key, *carry) rows: one per entry of ``keys``."""
    structs = F.array(*[F.struct(F.lit(b).alias("band"), k.alias("key"))
                        for b, k in enumerate(keys)])
    return (df.select(F.col(id_col).alias("id"), *carry,
                      F.explode(structs).alias("_b"))
            .select("id", *carry, "_b.band", "_b.key"))


def _bit_bands(df: DataFrame, id_col: str, hash_col: str, band_bits: int,
               n_bits: int = 64, carry: tuple = ()) -> DataFrame:
    """Band an integer hash into its n_bits/band_bits masked bit ranges."""
    keys = [F.col(hash_col).bitwiseAND(F.lit(_band_mask(b, band_bits)))
            for b in range(n_bits // band_bits)]
    return _explode_bands(df, id_col, keys, carry)


def _band_pairs(left: DataFrame, right: DataFrame | None = None,
                max_bucket: int | None = None,
                carry: tuple = ()) -> DataFrame:
    """Distinct (id_a, id_b, *carry_a, *carry_b) pairs from one band
    equi-join of (id, band, key, *carry) frames: a self-join keeping
    id_a < id_b, or ``left`` (id_a) against ``right`` (id_b) keeping
    id_a != id_b.  Skew policy: a side's buckets with more than
    ``max_bucket`` rows are dropped by a left_anti join against the
    broadcast hot set; ``None`` disables the guard.
    """
    sides = [left] if right is None else [left, right]
    if max_bucket is not None:
        sides = [s.join(F.broadcast(s.groupBy("band", "key").count()
                                    .filter(F.col("count") > max_bucket)
                                    .select("band", "key")),
                        ["band", "key"], "left_anti") for s in sides]

    def side(s: DataFrame, sfx: str) -> DataFrame:
        return s.select(F.col("id").alias("id" + sfx), "band", "key",
                        *[F.col(c).alias(c + sfx) for c in carry])

    keep = (F.col("id_a") < F.col("id_b")) if right is None \
        else (F.col("id_a") != F.col("id_b"))
    return (side(sides[0], "_a").join(side(sides[-1], "_b"), ["band", "key"])
            .filter(keep)
            .select("id_a", "id_b", *[c + sfx for sfx in ("_a", "_b")
                                      for c in carry])
            .distinct())


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n_perm: int = 64,
                      bands: int = 16, shingle_n: int = 3,
                      threshold: float = 0.5, seed: int = 42,
                      max_bucket: int = 1000,
                      hash_fn: str = "xxhash64",
                      band_key: str = "xxhash64") -> DataFrame:
    """Near-duplicate pairs by MinHash LSH + exact Jaccard verification.

    Signature -> ``bands`` band keys (rows = n_perm/bands) -> band-key
    equi-self-join for candidates -> exact shingle-set Jaccard on the
    candidates only.  Output: (id_a, id_b, jaccard) with jaccard >=
    threshold, id_a < id_b.  ``band_key='xxhash64'`` packs a band's rows
    into one int64 (the compact production shuffle key); ``'concat'``
    joins them as a string — bigger, but reproducible in ANSI SQL for
    the oracle.

    Two frames are persisted because several branches re-read them: the
    shingle explode (the signature agg, then both exact-Jaccard join
    sides and its size agg) and the banded keys (the hot-bucket count
    and both self-join sides).  Recomputing the text->shingle->hash
    subtree per branch measured 5x the pipeline wall at 10^6 docs.  The
    caches hold no correctness state, but benchmark reps should
    ``spark.catalog.clearCache()`` between runs (CLAUDE.md convention).
    """
    sh = word_shingles(docs, id_col, text_col, shingle_n).persist()
    sig = _signatures_from_shingles(sh, id_col, n_perm, seed, hash_fn)
    rows = n_perm // bands
    keys = []
    for bi in range(bands):
        ms = [F.col(f"m{bi * rows + j}") for j in range(rows)]
        keys.append(F.xxhash64(*ms) if band_key == "xxhash64"
                    else F.concat_ws("|", *[m.cast("string") for m in ms]))
    banded = _explode_bands(sig, id_col, keys).persist()
    cand = _band_pairs(banded, max_bucket=max_bucket)
    return exact_jaccard(docs, cand, id_col, text_col, shingle_n, threshold,
                         _shingles=sh)


def exact_jaccard(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", shingle_n: int = 3,
                  threshold: float = 0.0,
                  _shingles: DataFrame | None = None) -> DataFrame:
    """Exact shingle-set Jaccard for given (id_a, id_b) pairs.

    ``_shingles`` lets a caller that already materialized the
    (id, shingle) frame (``minhash_lsh_pairs``'s persisted copy) pass
    it in instead of re-deriving it from ``docs`` — this frame feeds
    THREE plan branches below (both join sides + the size agg)."""
    sh = _shingles if _shingles is not None else \
        word_shingles(docs, id_col, text_col, shingle_n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (pairs.join(sa, "id_a").join(sb, ["id_b", "shingle"])
             .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("ninter")))
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return (inter.join(na, "id_a").join(nb, "id_b")
            .select("id_a", "id_b",
                    (F.col("ninter") / (F.col("na") + F.col("nb") - F.col("ninter")))
                    .alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", hash_fn: str = "xxhash64",
            n_bits: int = 64) -> DataFrame:
    """n_bits-wide SimHash per document over word tokens, fully JVM-side.

    bit i of the hash = sign of sum over tokens of (2*bit_i(hash) - 1).
    One conditional-sum aggregate per bit in one groupBy — one shuffle,
    all codegen.  Output: (id_col, simhash long).  ``md5_60`` + 60 bits
    is the oracle-checkable variant (md5 is reproducible in ANSI SQL).
    """
    tok = docs.select(id_col, F.explode(F.split(text_col, " ")).alias("t"))
    h = _hash64_col("t", hash_fn)
    aggs = [F.sum(F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s{i}")
            for i in range(n_bits)]
    sums = tok.groupBy(id_col).agg(*aggs)
    # set bit i when the weighted sum is positive; bit 63 lands on the
    # sign bit — shiftleft on long handles it via overflow
    out = F.shiftleft((F.col("s0") > 0).cast("long"), 0)
    for i in range(1, n_bits):
        out = out.bitwiseOR(F.shiftleft((F.col(f"s{i}") > 0).cast("long"), i))
    return sums.select(id_col, out.alias("simhash"))


def hamming_pairs(df: DataFrame, id_col: str, hash_col: str,
                  max_dist: int = 3, band_bits: int = 16,
                  n_bits: int = 64, max_bucket: int = 100_000,
                  warn_recall: bool = True) -> DataFrame:
    """Pairs within Hamming distance ``max_dist`` of an integer hash.

    Banded LSH: n_bits/band_bits exact-band buckets; by pigeonhole any
    pair with distance < n_bits/band_bits shares a band — FULL recall
    is guaranteed only for max_dist < n_bits/band_bits.  With a larger
    max_dist the operator still returns only true pairs (exact
    bit_count verify) but may MISS pairs at distance >= n_bits/band_bits
    that share no band; callers wanting the guarantee should pass
    band_bits <= n_bits // (max_dist + 1).  Output: (id_a, id_b, hamming).

    Degenerate buckets (e.g. a constant hash over millions of rows)
    are dropped by the ``_band_pairs`` skew guard, bounding the
    self-join blow-up.
    """
    if warn_recall and band_bits > n_bits // (max_dist + 1):
        import warnings
        warnings.warn(
            f"hamming_pairs: band_bits={band_bits} does not guarantee "
            f"recall at max_dist={max_dist} (pairs at distance >= "
            f"{n_bits // band_bits} may share no band); pass band_bits <= "
            f"{n_bits // (max_dist + 1)} for full recall",
            RuntimeWarning, stacklevel=2)
    banded = _bit_bands(df.select(id_col, F.col(hash_col).alias("_h")),
                        id_col, "_h", band_bits, n_bits, ("_h",))
    cand = _band_pairs(banded, max_bucket=max_bucket, carry=("_h",))
    return (cand.select("id_a", "id_b",
                        F.expr("bit_count(_h_a ^ _h_b)").alias("hamming"))
            .filter(F.col("hamming") <= max_dist))


def simhash_pairs(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_dist: int = 3,
                  hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash near-duplicate pairs (composition).

    ``hash_fn='md5_60'`` runs a 60-bit simhash with 15-bit bands (same
    4-band pigeonhole structure as the 64/16 default) so the whole
    pipeline is reproducible in the DuckDB oracle.
    """
    n_bits = 60 if hash_fn == "md5_60" else 64
    band_bits = 15 if hash_fn == "md5_60" else 16
    return hamming_pairs(simhash(docs, id_col, text_col, hash_fn, n_bits),
                         id_col, "simhash", max_dist=max_dist,
                         band_bits=band_bits, n_bits=n_bits)


# ---------------------------------------------------------------------------
# Embedding similarity (ANN)
# ---------------------------------------------------------------------------

def lsh_planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """Deterministic integer hyperplanes in [-1000, 1000] \\ {0}.

    Integer coefficients (applied to floor(x*1000)-quantized embeddings)
    make every signature bit an exact integer comparison — bit-identical
    across numpy, Spark SQL and DuckDB, with no float dot-product
    associativity hazard.
    """
    rng = np.random.default_rng(seed)
    p = rng.integers(-999, 1000, (dim, n_planes)).astype(np.int64)
    p[p == 0] = 1
    return p


def _stack(v: pd.Series) -> np.ndarray:
    """(rows, dim) float64 matrix from a Series of equal-length arrays."""
    return np.stack(v.to_numpy(object)).astype(np.float64)


def _sqdist(m: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(rows, k) squared distances to centroids: the nearest-centroid step."""
    return ((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)


def _real_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Rows whose vector is present and holds no NaN or null element.
    The IVF paths drop the rest in the plan: one NaN vector would make
    its centroid NaN, and argmin over NaN distances picks bucket 0."""
    return df.filter(~F.exists(vec_col, lambda x: x.isNull() | F.isnan(x)))


def sign_lsh_signatures(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding", dim: int = 64,
                        n_planes: int = 64, seed: int = 7) -> DataFrame:
    """Random-hyperplane signature: bit j = (quantize(emb) . plane_j) > 0.

    One Arrow-vectorized integer matrix multiply per batch
    (:func:`signature_batch`); planes are deterministic from ``seed`` and
    live in the UDF closure (broadcast with the task, ~32 KB).  A null
    vector, or one holding a NaN, has no signature: its row is dropped,
    so it forms no candidate pair.
    """
    planes = lsh_planes(dim, n_planes, seed)

    @F.pandas_udf(T.LongType())
    def sig(v: pd.Series) -> pd.Series:
        return signature_batch(v, planes)

    return (emb.select(id_col, sig(vec_col).alias("sig"))
            .filter(F.col("sig").isNotNull()))


def signature_batch(v: pd.Series, planes: np.ndarray) -> pd.Series:
    """Per-row sign-LSH signature over ``planes`` (dim, n_planes): bit j
    is the exact integer test floor(1000 v) . plane_j > 0.  NULL for a
    null vector or one holding a NaN (a null element reads as NaN),
    which has no signature — it is never quantized."""
    ok = v.notna().to_numpy()
    out = np.zeros(len(v), np.int64)
    if ok.any():
        m = _stack(v[ok])
        real = ~np.isnan(m).any(axis=1)
        ok[ok] = real
        bits = (np.floor(m[real] * 1000.0).astype(np.int64) @ planes) > 0
        weights = np.uint64(1) << np.arange(planes.shape[1], dtype=np.uint64)
        out[ok] = (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)
    return pd.Series(pd.arrays.IntegerArray(out, ~ok))


# Bound on the float64 sum of |floor(1000 a_i) * floor(1000 b_i)|: below
# it the int64 sum cannot wrap (float error ~dim ulps << 2x headroom).
QDOT_LIMIT = float(1 << 62)


def qdot_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Per-row quantized dot sum_i floor(1000 a_i) * floor(1000 b_i), exact
    in int64 and so bit-identical to the oracles' SQL — the one quantized
    dot, under the ann / ivf reranks and the near-dup test.  NULL when a
    vector is null or holds a NaN (SQL null propagation); ``ValueError``
    when the sum could leave int64 (inf included) instead of wrapping.
    """
    ok = (a.notna() & b.notna()).to_numpy()
    out = np.zeros(len(a), np.int64)
    if ok.any():
        with np.errstate(invalid="ignore", over="ignore"):
            qa = np.floor(_stack(a[ok]) * 1000.0)
            qb = qa if b is a else np.floor(_stack(b[ok]) * 1000.0)
            real = ~(np.isnan(qa).any(axis=1) | np.isnan(qb).any(axis=1))
            qa, qb = qa[real], qb[real]
            bound = (np.abs(qa) * np.abs(qb)).sum(axis=1)
            if not (bound < QDOT_LIMIT).all():
                raise ValueError(
                    "quantized dot could overflow int64: sum of |floor(1000 "
                    "a_i) * floor(1000 b_i)| >= 2^62 or not finite")
            ok[ok] = real
            out[ok] = (qa.astype(np.int64) * qb.astype(np.int64)).sum(axis=1)
    return pd.Series(pd.arrays.IntegerArray(out, ~ok))


_qdot = F.pandas_udf(qdot_batch, T.LongType())


def ann_cosine_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    dim: int = 64, band_bits: int = 8,
                    seed: int = 7, rank_by: str = "cosine") -> DataFrame:
    """Approximate top-k neighbors per query via sign-LSH buckets.

    Query/candidate signatures band-joined (8x8-bit bands, unguarded);
    candidate ids are deduped FIRST (a narrow (qid, cid) distinct —
    never shuffle the embedding arrays per band copy), then embeddings
    re-joined for the exact rerank.

    ``rank_by='cosine'`` ranks by exact float cosine (NULL, sorted last,
    for a zero vector or a NaN); ``'qdot'`` by ``qdot_batch``
    (bit-identical across engines: the oracle-checkable mode, scored
    like ``contract.q_embed_topk``; a NULL qdot sorts last).
    Output: (qid, cid, qdot, cosine, rnk<=k).
    """
    def banded(df: DataFrame) -> DataFrame:
        return _bit_bands(sign_lsh_signatures(df, id_col, vec_col, dim,
                                              seed=seed),
                          id_col, "sig", band_bits)

    cand_ids = _band_pairs(banded(queries), banded(emb)).select(
        F.col("id_a").alias("qid"), F.col("id_b").alias("cid"))
    qe = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"))
    ce = emb.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("ce"))
    cand = cand_ids.join(F.broadcast(qe), "qid").join(ce, "cid")

    def dot(u: str, v: str) -> Column:
        return F.expr(f"aggregate(zip_with({u}, {v}, (x, y) -> CAST(x AS DOUBLE)"
                      " * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")

    cosine = F.nanvl(F.try_divide(dot("qe", "ce"), F.sqrt(dot("qe", "qe"))
                                  * F.sqrt(dot("ce", "ce"))),
                     F.lit(None).cast("double"))
    scored = cand.select("qid", "cid", _qdot("qe", "ce").alias("qdot"),
                         cosine.alias("cosine"))
    return _top_k(scored, "qdot" if rank_by == "qdot" else "cosine", k)


def _top_k(scored: DataFrame, by: str, k: int) -> DataFrame:
    """Rows ranked 1..k per qid by ``by`` desc (NULLs last), then cid."""
    w = Window.partitionBy("qid").orderBy(F.col(by).desc(), "cid")
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


# Largest quantized self-dot for which the integer cosine test cannot
# wrap int64: with qaa, qbb <= 3e8, Cauchy-Schwarz bounds qdot^2 <=
# qaa*qbb <= 9e16, so qdot^2*100 <= 9e18 < 2^63-1 ~ 9.22e18, and
# 100*qaa*qbb <= 9e18 too.  Above it the test falls back to double
# cosine (deterministic: one fixed expression tree, no reordering).
QDOT_SAFE_SELFDOT = 300_000_000


def embedding_neardup_pairs(emb: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding", dim: int = 64,
                            band_bits: int = 8, seed: int = 7,
                            cos2_pct: int = 81,
                            max_bucket: int = 1000) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the 5th dedup modality).

    Sign-LSH banded self-join for candidates (never all-pairs), then an
    ALL-INTEGER cosine-squared test on quantized dots:

        qdot^2 * 100 >= cos2_pct * qaa * qbb      (cos2_pct=81 ~ cos>=0.9)

    restricted to qdot > 0 (cosine sign; a NULL qdot never passes).
    Integer arithmetic keeps the decision bit-identical across engines
    (qdot ~ 6.4e7 for unit-ish 64-dim embeddings -> qdot^2*100 ~ 4e17 <
    2^63); rows whose quantized self-dots exceed ``QDOT_SAFE_SELFDOT``
    (norm >~ 17 at any dim) would wrap int64 SILENTLY in non-ANSI
    Spark, so those compare via double cosine instead.  ``max_bucket``
    drops degenerate signature buckets (e.g. a mass of near-zero
    embeddings hashing to one key) before the self-join — without it a
    B-row bucket emits B^2 candidates.  Output: (id_a, id_b, qdot).
    """
    sigs = sign_lsh_signatures(emb, id_col, vec_col, dim, seed=seed)
    # persisted: the hot-bucket count and both self-join sides would
    # each re-run the signature UDF otherwise
    banded = _bit_bands(sigs, id_col, "sig", band_bits).persist()
    cand = _band_pairs(banded, max_bucket=max_bucket)
    # self-dots are PER-VECTOR quantities: compute them once per row
    # BEFORE the pair join (n_vecs evaluations) instead of inside the
    # scored projection (n_pairs evaluations; measured ~35% of the lane
    # wall at 10^6 vectors)
    self_dot = _qdot(vec_col, vec_col)
    ea = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("qe"),
                    self_dot.alias("qaa"))
    eb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("ce"),
                    self_dot.alias("qbb"))
    scored = (cand.join(ea, "id_a").join(eb, "id_b")
              .select("id_a", "id_b", _qdot("qe", "ce").alias("qdot"),
                      "qaa", "qbb"))
    safe = ((F.col("qaa") <= QDOT_SAFE_SELFDOT)
            & (F.col("qbb") <= QDOT_SAFE_SELFDOT))
    int_test = (F.col("qdot") * F.col("qdot") * 100
                >= F.lit(cos2_pct) * F.col("qaa") * F.col("qbb"))
    dbl_test = (F.col("qdot").cast("double") * F.col("qdot").cast("double")
                * F.lit(100.0)
                >= F.lit(float(cos2_pct)) * F.col("qaa").cast("double")
                * F.col("qbb").cast("double"))
    keep = (F.col("qdot") > 0) & F.when(safe, int_test).otherwise(dbl_test)
    return scored.filter(keep).select("id_a", "id_b", "qdot")


def semantic_neardup_pairs(emb: DataFrame, id_col: str = "vec_id",
                           vec_col: str = "embedding", dim: int = 64,
                           k: int = 32, n_iter: int = 3,
                           min_cosine: float = 0.9,
                           train: str = "sample",
                           max_bucket: int = 100_000) -> DataFrame:
    """SemDeDup-style semantic near-duplicates: cluster the embedding
    space (k-means — ``train='full'`` for the unbounded distributed
    fit), then exact cosine pairs WITHIN each cluster bucket.  The
    published SemDeDup recipe (cluster, then dedup within clusters)
    bounds candidates by cluster size instead of LSH band collisions —
    the right tool when near-dups are semantic rather than byte-level.

    One bucket equi-self-join on the int cluster id; pairs limited to
    cosine >= ``min_cosine``, id_a < id_b.  ``max_bucket`` guards a
    degenerate all-in-one-cluster fit loudly.
    """
    cents = ivf_index(emb, vec_col, dim, k, n_iter, train=train)
    assigned = ivf_assign(emb, cents, id_col, vec_col, out="_sb")
    big = (assigned.groupBy("_sb").count()
           .filter(F.col("count") > max_bucket).limit(1).collect())
    if big:
        raise ValueError(
            f"cluster {big[0]['_sb']} holds {big[0]['count']} vectors "
            f"(> max_bucket={max_bucket}); raise k or the guard")
    a = assigned.select(F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("_va"), "_sb")
    b = assigned.select(F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("_vb"), "_sb")
    cand = a.join(b, "_sb").filter(F.col("id_a") < F.col("id_b"))

    @F.pandas_udf(T.DoubleType())
    def cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        ma, mb = _stack(va), _stack(vb)
        dots = (ma * mb).sum(axis=1)
        na = np.linalg.norm(ma, axis=1)
        nb = np.linalg.norm(mb, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            c = dots / (na * nb)
        return pd.Series(np.nan_to_num(c))

    return (cand.withColumn("cosine", cos("_va", "_vb"))
            .filter(F.col("cosine") >= min_cosine)
            .select("id_a", "id_b", "cosine"))


def winnow_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 8,
                        w: int = 4, hash_fn: str = "md5_60") -> DataFrame:
    """Winnowing document fingerprints (rolling character k-grams).

    The classic local document-fingerprint scheme: hash every character
    k-gram, slide a window of ``w`` hashes, keep each window's MINIMUM —
    any shared substring of length >= k + w - 1 between two documents
    guarantees a shared fingerprint.  Entirely JVM (substr/transform/
    array_min inside codegen); md5_60 keeps it ANSI-reproducible.
    Output: (id_col, fp) distinct fingerprint rows.
    """
    grams = (f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 0)), "
             f"i -> substring({text_col}, i, {k}))")
    if hash_fn == "md5_60":
        hashes = (f"transform({grams}, g -> "
                  f"CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT))")
    else:
        hashes = f"transform({grams}, g -> xxhash64(g))"
    fps = (f"transform(sequence(1, greatest(size({hashes}) - {w - 1}, 0)), "
           f"i -> array_min(slice({hashes}, i, {w})))")
    return (docs
            .filter(F.length(text_col) >= k + w - 1)
            .select(id_col, F.explode(F.expr(fps)).alias("fp"))
            .distinct())


def kmeans_fit(emb: DataFrame, vec_col: str = "embedding",
               k: int = 32, dim: int = 64, n_iter: int = 5) -> np.ndarray:
    """FULLY DISTRIBUTED Lloyd's k-means over an embedding column —
    the unbounded-corpus alternative to ``ivf_index``'s bounded-sample
    training: per iteration the only driver state is the (k, dim)
    centroid array; assignment + per-cluster partial sums run as ONE
    Arrow pass (mapInPandas emits k partial rows per batch), reduced by
    a groupBy over k keys.  Nothing scales with the row count except
    the scan itself.

    Deterministic: init = the k vectors with the smallest
    xxhash64(vector) (a global TakeOrdered, unbiased under any file
    order — same rationale as ivf_index's hash-mod sample); empty
    clusters keep their previous centroid.  A null vector, or one
    holding a NaN, is dropped in the plan.  Returns (k, dim) float64.
    """
    emb = _real_vectors(emb, vec_col)
    init = (emb.select(vec_col).orderBy(F.xxhash64(F.col(vec_col)))
            .limit(k).toPandas())
    if len(init) < k:
        raise ValueError(f"need >= {k} vectors, have {len(init)}")
    cents = _stack(init[vec_col])

    part_schema = ("b int, cnt double, " +
                   ", ".join(f"s{i} double" for i in range(dim)))

    for _ in range(n_iter):
        def partials(batches, c=cents):
            for pdf in batches:
                if not len(pdf):
                    continue
                m = _stack(pdf[vec_col])
                b = _sqdist(m, c).argmin(axis=1)
                sums = np.zeros((k, dim))
                cnts = np.zeros(k)
                np.add.at(sums, b, m)
                np.add.at(cnts, b, 1.0)
                part = pd.DataFrame(sums, columns=[f"s{i}" for i in range(dim)])
                yield part.assign(b=np.arange(k, dtype=np.int32), cnt=cnts)

        agg = (emb.select(vec_col).mapInPandas(partials, part_schema)
               .groupBy("b")
               .agg(F.sum("cnt").alias("cnt"),
                    *[F.sum(f"s{i}").alias(f"s{i}") for i in range(dim)])
               .toPandas())
        live = agg[agg["cnt"] > 0]
        cents = cents.copy()
        cents[live["b"]] = (live[[f"s{i}" for i in range(dim)]].to_numpy()
                            / live[["cnt"]].to_numpy())
    return cents


def ivf_index(emb: DataFrame, vec_col: str = "embedding", dim: int = 64,
              n_centroids: int = 32, n_iter: int = 5,
              sample_rows: int = 20_000, seed: int = 7,
              train: str = "sample") -> np.ndarray:
    """IVF coarse quantizer: numpy k-means over a bounded sample.

    The sample is a deterministic HASH-MOD filter over the vector bytes
    (xxhash64 of the array column), not a ``limit()`` prefix — a prefix
    reads whatever files come first, which is biased whenever the table
    is sorted or clustered by anything correlated with the embedding
    space (the r2 advisory).  The hash filter touches every partition
    uniformly; ``limit`` after it only hard-caps the driver transfer.
    Centroid training is driver-side numpy — centroids are a (C, dim)
    array shipped to executors in the assignment UDF closure.  A null
    vector, or one holding a NaN, is dropped in the plan.
    """
    emb = _real_vectors(emb, vec_col)
    if train == "full":
        # no sample cap, for distributions a 20k sample misplaces
        return kmeans_fit(emb, vec_col, n_centroids, dim, n_iter)
    total = emb.count()
    mod = 1_000_000
    thresh = mod if total <= sample_rows else \
        max(1, int(mod * sample_rows / total))
    pdf = (emb.select(vec_col)
           .filter(F.pmod(F.xxhash64(F.col(vec_col)), F.lit(mod)) < thresh)
           .limit(sample_rows).toPandas())
    if len(pdf) == 0:   # degenerate: hash landed nothing (tiny tables)
        pdf = emb.select(vec_col).limit(sample_rows).toPandas()
    x = _stack(pdf[vec_col])
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)),
                         replace=False)]
    for _ in range(n_iter):
        assign = _sqdist(x, cents).argmin(axis=1)
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                cents[c] = x[m].mean(axis=0)
    return cents


def ivf_assign(emb: DataFrame, centroids: np.ndarray,
               id_col: str = "vec_id", vec_col: str = "embedding",
               out: str = "bucket") -> DataFrame:
    """Nearest-centroid bucket per vector (one Arrow matrix op/batch); a
    null vector, or one holding a NaN, has none and its row is dropped
    in the plan."""
    @F.pandas_udf(T.IntegerType())
    def assign(v: pd.Series) -> pd.Series:
        return pd.Series(
            _sqdist(_stack(v), centroids).argmin(axis=1).astype(np.int32))

    return _real_vectors(emb, vec_col).withColumn(out, assign(vec_col))


def ivf_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int = 64, n_centroids: int = 32, nprobe: int = 4,
             seed: int = 7) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest centroid
    buckets per query, exact rerank on the probed candidates only.

    The scale path alternative to sign-LSH banding: candidates shrink to
    ~nprobe/C of the table per query; the bucket equi-join shuffles int
    keys, never all-pairs.  Output (qid, cid, qdot, rnk<=k) with the
    same integer-quantized rerank as ann_cosine_topk(rank_by='qdot').
    Null or NaN-holding vectors, on either side, are dropped in the plan.
    """
    cents = ivf_index(emb, vec_col, dim, n_centroids, seed=seed)
    cand_b = ivf_assign(emb, cents, id_col, vec_col).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("ce"), "bucket")

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(v: pd.Series) -> pd.Series:
        d = _sqdist(_stack(v), cents)
        order = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    qb = (_real_vectors(queries, vec_col)
          .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"),
                  F.explode(probes(vec_col)).alias("bucket")))
    cand = (qb.join(cand_b, "bucket")
            .filter(F.col("qid") != F.col("cid")))
    return _top_k(cand.select("qid", "cid", _qdot("qe", "ce").alias("qdot")),
                  "qdot", k)


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy keeper selection)
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, content_cols: list[str],
                id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per exact content key; single shuffle.

    Partitioned on the content columns, not on a hash of them: xxhash64
    skips nulls, so ("x", NULL) and (NULL, "x") would merge."""
    w = Window.partitionBy(*content_cols).orderBy(id_col)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


# ---------------------------------------------------------------------------
# Near-dup pairs -> groups -> keeper selection (the pipeline end-state)
# ---------------------------------------------------------------------------

def connected_components_df(pairs: DataFrame, a_col: str = "id_a",
                            b_col: str = "id_b",
                            max_rounds: int = 50,
                            reliable: bool = False) -> DataFrame:
    """DISTRIBUTED connected components over the pair DataFrame: min-id
    label propagation with pointer doubling — joins and aggregations
    only, ZERO driver state, so it has no edge-count ceiling (the r3
    verdict's last corpus-scale hard-fail).

    Per round: (1) every node takes the min label over itself and its
    neighbors (one shuffle: edge⋈label + groupBy-min), (2) pointer
    jump ``lbl <- lbl(lbl)`` (label-keyed self-join) — the doubling
    step that turns O(diameter) convergence into O(log d) rounds.
    Labels are node ids and only ever DECREASE toward the component
    min, so a round with zero changed labels is the exact fixpoint:
    stability across every (symmetric) edge forces equal labels on both
    ends, and the component's min id can never be undercut.  Lineage is
    cut per round with ``localCheckpoint`` (iterative plans grow
    exponentially otherwise).

    Same (id, group=min member id) contract as the driver union-find
    fast lane — the recursive-CTE closure oracle matches either path.
    Output covers ids that appear in at least one pair.

    ``reliable=True`` cuts lineage with ``checkpoint()`` (needs
    ``spark.sparkContext.setCheckpointDir``) instead of
    ``localCheckpoint()``: local checkpoints live on executors and die
    with them, which on a multi-hour 1000-executor run means a lost
    node replays the whole iteration; reliable checkpoints trade a
    per-round HDFS write for restartability.
    """
    def _cut(df):
        return df.checkpoint(eager=True) if reliable \
            else df.localCheckpoint(eager=True)

    u, v = "_cc_u", "_cc_v"
    e = pairs.select(F.col(a_col).alias(u), F.col(b_col).alias(v))
    sym = (e.union(e.select(F.col(v).alias(u), F.col(u).alias(v)))
           .filter(F.col(u) != F.col(v))
           .persist())
    labels = _cut(sym.select(F.col(u).alias("id")).distinct()
                  .withColumn("lbl", F.col("id")))
    for _ in range(max_rounds):
        nbr = (sym.join(labels.select(F.col("id").alias(v),
                                      F.col("lbl").alias("_nl")), v)
               .groupBy(u).agg(F.min("_nl").alias("_nm")))
        # carry the pre-round label through the propagation: the
        # convergence check below then reads the ALREADY-materialized
        # checkpoint blocks instead of re-joining l2 against the old
        # labels — one full shuffle join per round removed.
        l1 = (labels.join(nbr, labels["id"] == nbr[u], "left")
              .select(labels["id"],
                      labels["lbl"].alias("_old"),
                      F.least(F.col("lbl"),
                              F.coalesce("_nm", "lbl")).alias("lbl")))
        par = l1.select(F.col("id").alias("_pid"),
                        F.col("lbl").alias("_plbl"))
        l2 = (l1.join(par, l1["lbl"] == par["_pid"], "left")
              .select(l1["id"], l1["_old"],
                      F.least(l1["lbl"],
                              F.coalesce("_plbl", l1["lbl"])).alias("lbl")))
        l2 = _cut(l2)
        changed = (l2.filter(F.col("lbl") != F.col("_old"))
                   .limit(1).count())
        labels = l2.select("id", "lbl")
        if changed == 0:
            break
    sym.unpersist()
    return labels.select(F.col("id"), F.col("lbl").alias("group"))


def connected_groups(pairs: DataFrame, a_col: str = "id_a",
                     b_col: str = "id_b",
                     max_edges: int = 10_000_000) -> DataFrame:
    """Near-duplicate PAIRS -> connected GROUPS, labeled by MIN member
    id (deterministic; same labeling as dissolve's component pass and
    its SQL closure oracle).

    Scale shape: the collected state is the EDGE list only — near-dup
    edges are output-bounded (every LSH family above verifies
    candidates before emitting), not corpus-bounded; ids that never
    appear in a pair are their own group implicitly and never reach the
    driver.  ``max_edges`` is a FAST-LANE bound, not a ceiling: past it
    the grouping runs fully distributed via
    :func:`connected_components_df` (same min-id labels, no driver
    state, no size limit).
    Output: (id, group) for ids that appear in at least one pair.
    """
    edges = pairs.select(a_col, b_col).limit(max_edges + 1).collect()
    if len(edges) > max_edges:
        return (connected_components_df(pairs, a_col, b_col)
                .select(F.col("id"), F.col("group")))
    ids = sorted({r[a_col] for r in edges} | {r[b_col] for r in edges})
    parent = {i: i for i in ids}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for r in edges:
        ra, rb = find(r[a_col]), find(r[b_col])
        if ra != rb:
            parent[ra] = rb
    # ids ascend, so the first member seen per root is the group's min
    roots: dict = {}
    groups = [roots.setdefault(find(i), i) for i in ids]
    spark = pairs.sparkSession
    if not ids:
        # derive the empty schema from the pair column type so string
        # doc ids get string columns on BOTH the empty and non-empty
        # paths (downstream joins must not depend on emptiness)
        id_t = pairs.schema[a_col].dataType
        return spark.createDataFrame(
            [], T.StructType([T.StructField("id", id_t),
                              T.StructField("group", id_t)]))
    return spark.createDataFrame(
        pd.DataFrame({"id": ids, "group": groups}))


def apply_dedup(docs: DataFrame, groups: DataFrame,
                id_col: str = "doc_id") -> DataFrame:
    """Drop non-keeper near-duplicates: every grouped id except the
    group label (its MIN member) leaves the corpus; ungrouped docs pass
    through untouched.  One broadcast anti-join — the groups frame is
    near-dup-bounded, not corpus-bounded."""
    losers = groups.filter(F.col("id") != F.col("group")).select("id")
    return docs.join(F.broadcast(losers),
                     docs[id_col] == losers["id"], "left_anti")
