"""Dedup / similarity operators vs eager single-node oracles."""

import itertools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fiona_spark.operators import dedup

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
         "iota", "kappa", "lmbda", "mu", "nu", "xi", "omicron", "pi"]


def _mk_docs(n=40, seed=11):
    """Deterministic corpus with planted near-duplicates.

    doc 2i+1 = doc 2i with ONE word changed for i in 0..4 (high Jaccard);
    the rest are independent random word sequences (low Jaccard).
    """
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        toks = [WORDS[j] for j in rng.integers(0, len(WORDS), 30)]
        rows.append({"doc_id": i, "text": " ".join(toks)})
    for i in range(5):
        base = rows[2 * i]["text"].split(" ")
        base[7] = "CHANGED"
        rows[2 * i + 1]["text"] = " ".join(base)
    return pd.DataFrame(rows)


def _shingles(text, n=3):
    ws = text.split(" ")
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


def _jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


@pytest.fixture(scope="module")
def docs_pdf():
    return _mk_docs()


@pytest.fixture(scope="module")
def docs(spark, docs_pdf):
    return spark.createDataFrame(docs_pdf).cache()


def test_exact_jaccard_matches_python(spark, docs, docs_pdf):
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [0, 2, 4], "id_b": [1, 3, 5]}))
    got = dedup.exact_jaccard(docs, pairs).toPandas().set_index(["id_a", "id_b"])
    for a, b in [(0, 1), (2, 3), (4, 5)]:
        exp = _jaccard(docs_pdf.loc[a, "text"], docs_pdf.loc[b, "text"])
        assert got.loc[(a, b), "jaccard"] == pytest.approx(exp)


def test_minhash_lsh_finds_planted_pairs(spark, docs, docs_pdf):
    got = dedup.minhash_lsh_pairs(docs, threshold=0.5).toPandas()
    found = set(map(tuple, got[["id_a", "id_b"]].itertuples(index=False)))
    for i in range(5):
        assert (2 * i, 2 * i + 1) in found, f"planted pair {2*i} missing"
    # no false positives below the verification threshold
    assert (got["jaccard"] >= 0.5).all()
    # eager check of reported jaccards
    for _, r in got.iterrows():
        exp = _jaccard(docs_pdf.loc[r["id_a"], "text"],
                       docs_pdf.loc[r["id_b"], "text"])
        assert r["jaccard"] == pytest.approx(exp)


def test_minhash_signature_similarity_tracks_jaccard(spark, docs, docs_pdf):
    sig = dedup.minhash_signatures(docs, n_perm=64).toPandas().set_index("doc_id")
    mcols = [f"m{j}" for j in range(64)]

    def sig_sim(a, b):
        return (sig.loc[a, mcols].to_numpy() == sig.loc[b, mcols].to_numpy()).mean()

    # planted near-dup: signature agreement ~ true jaccard (within 3 sigma)
    j = _jaccard(docs_pdf.loc[0, "text"], docs_pdf.loc[1, "text"])
    assert abs(sig_sim(0, 1) - j) < 3 * np.sqrt(j * (1 - j) / 64) + 1e-9
    # unrelated docs: low agreement
    assert sig_sim(0, 20) < 0.4


def test_simhash_identical_and_near(spark, docs):
    dup = docs.filter("doc_id = 0").withColumn("doc_id", F.lit(999))
    d2 = docs.unionByName(dup)
    sh = dedup.simhash(d2).toPandas().set_index("doc_id")
    assert sh.loc[0, "simhash"] == sh.loc[999, "simhash"]
    pairs = dedup.simhash_pairs(d2, max_dist=3).toPandas()
    keys = set(map(tuple, pairs[["id_a", "id_b"]].itertuples(index=False)))
    assert (0, 999) in keys


def test_hamming_pairs_vs_bruteforce(spark):
    rng = np.random.default_rng(3)
    hashes = rng.integers(-(1 << 62), 1 << 62, 30).astype(np.int64)
    hashes[5] = hashes[2] ^ 0b101          # distance 2 plant
    hashes[9] = hashes[2]                  # distance 0 plant
    pdf = pd.DataFrame({"vid": range(30), "h": hashes})
    df = spark.createDataFrame(pdf)
    # max_dist=4 with band_bits=16 is DELIBERATELY past the pigeonhole
    # guarantee (d < 64/16 = 4): the operator must warn — asserted here
    # so the suite stays green under -W error::RuntimeWarning while the
    # beyond-guarantee regime keeps its loud signal (r6 verdict ask #5)
    with pytest.warns(RuntimeWarning, match="does not guarantee"):
        pairs_df = dedup.hamming_pairs(df, "vid", "h", max_dist=4,
                                       band_bits=16)
    got = pairs_df.toPandas()
    got_keys = set(map(tuple, got[["id_a", "id_b"]].itertuples(index=False)))
    exp = set()
    for a, b in itertools.combinations(range(30), 2):
        d = bin((int(hashes[a]) ^ int(hashes[b])) & 0xFFFFFFFFFFFFFFFF).count("1")
        # pigeonhole guarantee only holds for d < 64/band_bits = 4
        if d < 4:
            exp.add((a, b))
    assert exp <= got_keys
    for _, r in got.iterrows():
        d = bin((int(hashes[r['id_a']]) ^ int(hashes[r['id_b']])) & 0xFFFFFFFFFFFFFFFF).count("1")
        assert r["hamming"] == d <= 4


def test_hamming_pairs_hot_bucket_guard(spark):
    """A planted constant-hash bucket past ``max_bucket`` is dropped and
    every other pair is unchanged."""
    rng = np.random.default_rng(21)
    hashes = rng.integers(-(1 << 62), 1 << 62, 30).astype(np.int64)
    hashes[5] = hashes[2] ^ 0b101
    hashes[9] = hashes[2]
    base = spark.createDataFrame(pd.DataFrame({"vid": range(30), "h": hashes}))
    const = spark.createDataFrame(pd.DataFrame({
        "vid": range(100, 120), "h": np.full(20, 0x0F0F0F0F0F0F0F0F)}))

    def keys(df, **kw):
        got = dedup.hamming_pairs(df, "vid", "h", max_dist=3, **kw).toPandas()
        return set(map(tuple, got[["id_a", "id_b", "hamming"]]
                       .itertuples(index=False)))

    want = keys(base)
    assert {(2, 5, 2), (2, 9, 0), (5, 9, 2)} <= want
    planted = base.unionByName(const)
    unguarded = keys(planted)
    assert len(unguarded - want) == 20 * 19 // 2   # the bucket's pairs
    assert keys(planted, max_bucket=10) == want


def test_sign_lsh_null_embedding_forms_no_pair(spark):
    """A null vector has no signature: both sign-LSH operators drop it
    instead of crashing inside the signature UDF."""
    rng = np.random.default_rng(13)
    vecs = [v.tolist() for v in rng.standard_normal((40, 64))]
    vecs[30] = [x * 1.3 for x in vecs[2]]
    vecs[7] = None
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(40), "embedding": vecs}),
        "vec_id long, embedding array<double>")
    pairs = dedup.embedding_neardup_pairs(emb).toPandas()
    keys = set(map(tuple, pairs[["id_a", "id_b"]].itertuples(index=False)))
    assert (2, 30) in keys and not any(7 in k for k in keys)
    top = dedup.ann_cosine_topk(emb, emb.filter("vec_id IN (2, 7)"), k=3,
                                rank_by="qdot").toPandas()
    assert set(top["qid"]) == {2} and 7 not in set(top["cid"])
    assert top.loc[top["rnk"] == 1, "cid"].item() == 30


def test_null_qdot_never_outranks_or_pairs(spark):
    """A vector holding a NaN or a null element has a NULL quantized
    dot: it ranks after every real candidate and never passes the
    near-dup test.  One-bit bands make every pair a candidate, so those
    rows surely reach the rerank."""
    rng = np.random.default_rng(4)
    vecs = [v.tolist() for v in rng.standard_normal((30, 64))]
    vecs[20] = [x * 1.1 for x in vecs[3]]
    vecs[25] = vecs[3][:9] + [float("nan")] + vecs[3][10:]
    vecs[26] = vecs[3][:9] + [None] + vecs[3][10:]
    # rows, not pandas: a pandas round trip would turn the NaN into null
    emb = spark.createDataFrame(list(enumerate(vecs)),
                                "vec_id long, embedding array<double>")
    assert np.isnan(emb.filter("vec_id = 25").first()["embedding"][9])
    top = dedup.ann_cosine_topk(emb, emb.filter("vec_id = 3"), k=30,
                                band_bits=1, rank_by="qdot").toPandas()
    assert len(top) == 29
    ranked = top.sort_values("rnk")
    assert ranked["cid"].iloc[0] == 20
    assert set(ranked["cid"].iloc[-2:]) == {25, 26}
    assert ranked["qdot"].iloc[-2:].isna().all()
    assert ranked["qdot"].iloc[:-2].notna().all()
    pairs = dedup.embedding_neardup_pairs(emb, band_bits=1).toPandas()
    keys = set(map(tuple, pairs[["id_a", "id_b"]].itertuples(index=False)))
    assert (3, 20) in keys
    assert not any(k & {25, 26} for k in map(set, keys))


def test_ann_cosine_finds_planted_neighbor(spark):
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((100, 64)).astype(np.float64)
    vecs[50] = vecs[7] + rng.standard_normal(64) * 0.01   # near-dup of 7
    pdf = pd.DataFrame({"vec_id": range(100),
                        "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf)
    q = emb.filter("vec_id = 7")
    got = dedup.ann_cosine_topk(emb, q, k=5).toPandas()
    assert len(got) >= 1
    top = got[got["rnk"] == 1].iloc[0]
    assert top["cid"] == 50 and top["cosine"] > 0.99


def test_short_docs_yield_no_shingles_and_no_crash(spark):
    """Docs with fewer than n words must produce zero shingles, not a
    runtime slice() error (the r1 whole-job crash)."""
    pdf = pd.DataFrame({"doc_id": [0, 1, 2, 3],
                        "text": ["one", "one two", "", "one two three four"]})
    df = spark.createDataFrame(pdf)
    sh = dedup.word_shingles(df).toPandas()
    assert set(sh["doc_id"]) == {3}
    dup = df.withColumn("doc_id", F.col("doc_id") + 10)
    got = dedup.minhash_lsh_pairs(df.unionByName(dup), threshold=0.9).toPandas()
    keys = set(map(tuple, got[["id_a", "id_b"]].itertuples(index=False)))
    assert (3, 13) in keys   # the only shingle-bearing doc still pairs


def test_perm_hash_is_exact_universal_family(spark):
    """Engine h_j(x) must equal (a_j*x + b_j) mod (2^61-1) EXACTLY —
    regression for the r1 shiftleft int64-overflow bug."""
    from fiona_spark.operators.dedup import _P, _perm_coeffs, _perm_hash_col
    rng = np.random.default_rng(17)
    xs = rng.integers(0, _P, 200, dtype=np.int64)
    a, b = _perm_coeffs(4)
    df = spark.createDataFrame(pd.DataFrame({"x": xs}))
    cols = [_perm_hash_col(F.col("x"), int(a[j]), int(b[j])).alias(f"h{j}")
            for j in range(4)]
    got = df.select("x", *cols).toPandas()
    for j in range(4):
        want = (int(a[j]) * got["x"].astype(object) + int(b[j])) % _P
        assert (got[f"h{j}"].astype(object) == want).all()


def test_lsh_bucket_guard_is_hot_side_broadcast(spark, docs):
    """The degenerate-bucket guard must broadcast the (tiny) hot set
    into a left_anti join — never the cold set — and dropping a planted
    boilerplate bucket must not change the surviving pairs."""
    from fiona_spark.plans import quality
    boiler = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(1000, 1030),
        "text": ["the same boilerplate text repeated here always"] * 30}))
    d2 = docs.unionByName(boiler)
    out = dedup.minhash_lsh_pairs(d2, threshold=0.5, max_bucket=10)
    plan = quality.formatted_plan(out)
    assert "BroadcastHashJoin" in plan   # hot set rides a broadcast
    got = out.toPandas()
    keys = set(map(tuple, got[["id_a", "id_b"]].itertuples(index=False)))
    for i in range(5):
        assert (2 * i, 2 * i + 1) in keys
    assert not any(a >= 1000 or b >= 1000 for a, b in keys)  # bucket dropped


def test_md5_hash_family_matches_xxhash_pipeline_shape(spark, docs, docs_pdf):
    """The oracle-checkable md5_60 family finds the same planted pairs."""
    got = dedup.minhash_lsh_pairs(docs, threshold=0.5, hash_fn="md5_60",
                                  band_key="concat").toPandas()
    keys = set(map(tuple, got[["id_a", "id_b"]].itertuples(index=False)))
    for i in range(5):
        assert (2 * i, 2 * i + 1) in keys
    sim = dedup.simhash_pairs(
        docs.unionByName(docs.filter("doc_id = 0")
                         .withColumn("doc_id", F.lit(999))),
        max_dist=3, hash_fn="md5_60").toPandas()
    skeys = set(map(tuple, sim[["id_a", "id_b"]].itertuples(index=False)))
    assert (0, 999) in skeys


def test_dedup_exact_keeps_min_id(spark, docs):
    dup = docs.filter("doc_id IN (0, 1)").withColumn(
        "doc_id", F.col("doc_id") + 1000)
    d2 = docs.unionByName(dup)
    out = dedup.dedup_exact(d2, ["text"]).toPandas()
    assert len(out) == docs.count()
    assert set(out["doc_id"]) == set(range(docs.count()))
    # nulls are part of the key: ("x", NULL) and (NULL, "x") are two
    # keys (a hash of the columns skips nulls and merged them)
    nulls = spark.createDataFrame(
        [(1, "x", None), (2, None, "x"), (3, "x", "x"), (4, "x", None)],
        "doc_id long, a string, b string")
    kept = dedup.dedup_exact(nulls, ["a", "b"]).toPandas()
    assert set(kept["doc_id"]) == {1, 2, 3}


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing property: docs sharing a substring of length >= k+w-1
    share at least one fingerprint; short docs drop out cleanly."""
    common = "the quick brown fox jumps over it"   # > k+w-1 chars
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["AAA " + common + " tail one",
                 "prefix two " + common + " ZZZ",
                 "completely different words here altogether",
                 "short"]})
    df = spark.createDataFrame(pdf)
    fp = dedup.winnow_fingerprints(df, k=8, w=4).toPandas()
    by_doc = {d: set(g["fp"]) for d, g in fp.groupby("doc_id")}
    assert by_doc[1] & by_doc[2]              # shared substring detected
    assert by_doc[3]                          # unrelated doc fingerprints too
    assert 4 not in by_doc                    # shorter than k+w-1


def test_ivf_topk_finds_planted_neighbor(spark):
    rng = np.random.default_rng(9)
    vecs = rng.standard_normal((300, 64))
    vecs[200] = vecs[11] + rng.standard_normal(64) * 0.01
    pdf = pd.DataFrame({"vec_id": range(300),
                        "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf)
    q = emb.filter("vec_id = 11")
    got = dedup.ivf_topk(emb.filter("vec_id != 11"), q, k=5,
                         n_centroids=16, nprobe=4).toPandas()
    top = got[got["rnk"] == 1].iloc[0]
    assert top["cid"] == 200
    # bucketed candidates only: far fewer than the full table reranked
    assert len(got) <= 5


def test_repetition_stats_match_pandas_oracle(spark):
    """Gopher-style repetition filters vs an eager pandas recompute."""
    from collections import Counter

    from fiona_spark.operators import text as tx
    docs = [
        (0, "a b c\na b c\nd e f"),                 # 1 dup line of 3
        (1, "x y x y x y x y"),                      # heavy 2-gram repeat
        (2, "unique words only appear here once"),
        (3, "zz"),                                   # shorter than 6 chars
        (4, "abcdefabcdefabcdef"),                   # repeated 6-grams
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = (tx.repetition_stats(df).toPandas()
           .sort_values("doc_id").reset_index(drop=True))

    for i, (did, text) in enumerate(docs):
        lines = text.split("\n")
        want_line = 1.0 - len(set(lines)) / len(lines)
        ws = [w for w in text.split(" ") if w]
        grams2 = [" ".join(ws[j:j + 2]) for j in range(len(ws) - 1)]
        want_top = (max(Counter(grams2).values()) / len(grams2)
                    if grams2 else 0.0)
        cgrams = [text[j:j + 6] for j in range(len(text) - 5)]
        cnt = Counter(cgrams)
        want_dup = (sum(c for c in cnt.values() if c >= 2) / len(cgrams)
                    if cgrams else 0.0)
        row = got.iloc[i]
        assert row["doc_id"] == did
        assert abs(row["line_dup_frac"] - want_line) < 1e-6, did
        assert abs(row["top_2gram_frac"] - want_top) < 1e-6, did
        assert abs(row["dup_6chargram_frac"] - want_dup) < 1e-6, did


def test_repetition_stats_on_documents_table(spark):
    """Runs over the real documents table shape; planted duplicate-line
    doc ranks above the clean docs."""
    from fiona_spark.operators import text as tx
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    planted = spark.createDataFrame(
        [(999999, "same line\n" * 20)], "doc_id long, text string")
    out = tx.repetition_stats(docs.unionByName(planted))
    top = out.orderBy(F.col("line_dup_frac").desc()).first()
    assert top["doc_id"] == 999999 and top["line_dup_frac"] > 0.9


def test_connected_groups_and_apply(spark):
    """pairs -> min-id groups -> keeper application: the full dedup
    pipeline end-state over MinHash pairs with planted clusters."""
    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (2, 3), (10, 11)], "id_a long, id_b long")
    g = (dedup.connected_groups(pairs).toPandas()
         .sort_values("id").reset_index(drop=True))
    assert dict(zip(g["id"], g["group"])) == {
        1: 1, 5: 1, 9: 1, 2: 2, 3: 2, 10: 10, 11: 10}
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(12)], "doc_id long, text string")
    kept = dedup.apply_dedup(docs, dedup.connected_groups(pairs))
    kept_ids = sorted(r["doc_id"] for r in kept.collect())
    # losers 5, 9, 3, 11 dropped; everything else (incl. ungrouped) kept
    assert kept_ids == [0, 1, 2, 4, 6, 7, 8, 10]


def test_connected_groups_past_guard_goes_distributed(spark):
    """Past max_edges the grouping completes DISTRIBUTED (label
    propagation) with labels identical to the driver union-find — the
    r3 hard-fail is gone.  A 50-edge chain is also the worst case for
    propagation depth (pointer doubling must converge, not time out)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id_a long, id_b long")
    fast = dedup.connected_groups(pairs).toPandas()
    dist = dedup.connected_groups(pairs, max_edges=10).toPandas()
    f = dict(zip(fast["id"], fast["group"]))
    d = dict(zip(dist["id"], dist["group"]))
    assert f == d and set(d.values()) == {0}


def test_connected_components_df_no_driver_collect(spark):
    """The distributed path is pure joins/aggregations: its final plan
    contains no local (driver) table scan of collected edges."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (9, 9)], "id_a long, id_b long")
    out = dedup.connected_components_df(pairs)
    got = dict((r["id"], r["group"]) for r in out.collect())
    # self-loop (9,9) contributes no node; 1-2-3 and 7-8 components
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    # string ids work identically (min is lexicographic, like the
    # union-find's Python min)
    sp = spark.createDataFrame(
        [("b", "a"), ("c", "b")], "id_a string, id_b string")
    got_s = dict((r["id"], r["group"])
                 for r in dedup.connected_components_df(sp).collect())
    assert got_s == {"a": "a", "b": "a", "c": "a"}


def test_connected_components_randomized_parity(spark):
    """300-trial-scale differential: distributed label propagation vs
    the driver union-find on a random graph mixing dense clusters,
    long chains, rings, isolated edges and self-loops."""
    rng = np.random.default_rng(41)
    edges = []
    nid = 0
    for _ in range(15):                      # dense clusters
        size = int(rng.integers(2, 12))
        ids = nid + rng.integers(0, size, size * 2)
        edges += [(int(a), int(b)) for a, b in zip(ids[::2], ids[1::2])]
        nid += size
    for _ in range(5):                       # chains (worst depth)
        ln = int(rng.integers(5, 40))
        edges += [(nid + i, nid + i + 1) for i in range(ln)]
        nid += ln + 1
    ring = [(nid + i, nid + (i + 1) % 30) for i in range(30)]
    edges += ring; nid += 30
    edges += [(nid, nid)]                    # self loop
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = dedup.connected_groups(pairs).toPandas()
    dist = dedup.connected_components_df(pairs).toPandas()
    f = dict(zip(fast["id"], fast["group"]))
    d = dict(zip(dist["id"], dist["group"]))
    # union-find includes self-loop-only ids; the distributed path
    # drops self loops (no neighbor) — align before comparing
    f = {k: v for k, v in f.items() if k in d}
    assert f == d and len(d) > 100


def test_dedup_pipeline_end_to_end_distributed_lane(spark):
    """Corpus -> MinHash LSH pairs -> group closure (DISTRIBUTED lane
    forced) -> keeper application, on the real documents fixture with
    planted duplicate clusters; surviving corpus identical to the
    driver-lane run and keepers are exactly the min ids."""
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    # plant two clusters: copies of doc 0 and doc 1 at high ids
    d0 = base.filter("doc_id = 0").select("text").first()["text"]
    d1 = base.filter("doc_id = 1").select("text").first()["text"]
    extra = spark.createDataFrame(
        [(100000 + i, d0) for i in range(3)]
        + [(200000 + i, d1 + " tail") for i in range(2)],
        "doc_id long, text string")
    docs = base.unionByName(extra)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.8)
    fast = dedup.apply_dedup(docs, dedup.connected_groups(pairs))
    dist = dedup.apply_dedup(docs, dedup.connected_groups(
        pairs, max_edges=1))
    fast_ids = sorted(r["doc_id"] for r in fast.select("doc_id").collect())
    dist_ids = sorted(r["doc_id"] for r in dist.select("doc_id").collect())
    assert fast_ids == dist_ids
    # cluster keepers are the min members: 0 and 1 survive, plants die
    assert 0 in fast_ids and 1 in fast_ids
    assert not any(i >= 100000 for i in fast_ids)


def test_kmeans_fit_matches_numpy_oracle(spark):
    """Distributed Lloyd's == driver numpy Lloyd's with the same
    deterministic init (per-iteration driver state is the centroid
    array only); planted blobs recovered; ivf_index(train='full')
    routes through it."""
    rng = np.random.default_rng(3)
    vecs = np.vstack([rng.standard_normal((200, 8)) + c
                      for c in (0.0, 30.0, -30.0)])
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(len(vecs)),
        "embedding": [v.tolist() for v in vecs]})).repartition(8)
    cents = dedup.kmeans_fit(emb, k=3, dim=8, n_iter=5)
    init = np.stack([np.asarray(r["embedding"]) for r in emb.select(
        "embedding").orderBy(F.xxhash64(F.col("embedding")))
        .limit(3).collect()])
    c = init.copy()
    for _ in range(5):
        d = ((vecs[:, None, :] - c[None, :, :]) ** 2).sum(2)
        b = d.argmin(1)
        for j in range(3):
            if (b == j).any():
                c[j] = vecs[b == j].mean(0)
    assert np.allclose(np.sort(cents, axis=0), np.sort(c, axis=0),
                       atol=1e-9)
    assert sorted(round(m) for m in cents.mean(axis=1)) == [-30, 0, 30]
    full = dedup.ivf_index(emb, dim=8, n_centroids=3, n_iter=5,
                           train="full")
    assert np.allclose(np.sort(full, axis=0), np.sort(cents, axis=0))


def test_semantic_neardup_pairs_finds_planted(spark):
    """SemDeDup composition (cluster -> exact cosine within cluster):
    planted near-identical vectors pair; cross-cluster strangers do
    not; an eager numpy oracle confirms every reported cosine."""
    rng = np.random.default_rng(11)
    base = np.vstack([rng.standard_normal((60, 16)) + c
                      for c in (0.0, 25.0)])
    vecs = list(base)
    vecs.append(base[3] + rng.standard_normal(16) * 1e-3)   # dup of 3
    vecs.append(base[70] + rng.standard_normal(16) * 1e-3)  # dup of 70
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(len(vecs)),
        "embedding": [list(map(float, v)) for v in vecs]})).repartition(4)
    got = dedup.semantic_neardup_pairs(
        emb, dim=16, k=2, n_iter=4, min_cosine=0.999).toPandas()
    keys = set(map(tuple, got[["id_a", "id_b"]].itertuples(index=False)))
    assert (3, 120) in keys and (70, 121) in keys
    arr = np.stack([np.asarray(v) for v in vecs])
    for r in got.itertuples():
        a, b = arr[r.id_a], arr[r.id_b]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert r.cosine == pytest.approx(want)
    # degenerate one-cluster fit trips the loud guard
    with pytest.raises(ValueError, match="max_bucket"):
        dedup.semantic_neardup_pairs(emb, dim=16, k=2, n_iter=1,
                                     max_bucket=10)
