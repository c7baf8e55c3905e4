"""Tests for dedup / similarity / text-analysis / multimodal operators."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from proj_spark.functions import text as T
from proj_spark.operators import dedup, multimodal, similarity
from proj_spark.sources.synth import images_df, make_image_row, decode_png, _gradient_pixels


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# -------------------------------------------------------------- text


def test_token_count_matches_python(spark, docs):
    got = docs.select("doc_id", T.token_count(F.col("text")).alias("n")).toPandas()
    raw = docs.select("doc_id", "text").toPandas()
    want = raw.assign(n=[len(t.strip().split()) for t in raw["text"]])
    merged = got.merge(want[["doc_id", "n"]], on="doc_id", suffixes=("_g", "_w"))
    assert (merged["n_g"] == merged["n_w"]).all()


def test_quality_and_ratios_bounded(spark, docs):
    out = docs.select(
        T.quality_score(F.col("text")).alias("q"),
        T.punct_ratio(F.col("text")).alias("p"),
        T.stopword_ratio(F.col("text")).alias("s"),
    ).toPandas()
    assert ((out["q"] >= 0) & (out["q"] <= 1)).all()
    assert ((out["p"] >= 0) & (out["p"] <= 1)).all()
    assert ((out["s"] >= 0) & (out["s"] <= 1)).all()


def test_fingerprint_deterministic_and_distinct(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "different text")],
        "doc_id long, text string",
    )
    out = df.select("doc_id", T.fingerprint64(F.col("text")).alias("fp")).toPandas()
    fp = dict(zip(out["doc_id"], out["fp"]))
    assert fp[1] == fp[2] != fp[3]


# -------------------------------------------------------------- dedup


@pytest.fixture(scope="module")
def dup_docs(spark, docs):
    """documents + planted exact and near duplicates."""
    base = docs.select("doc_id", "text").limit(50).toPandas()
    rows = list(zip(base["doc_id"], base["text"]))
    src = dict(rows)
    rows.append((100001, src[rows[0][0]]))              # exact dup of first
    rows.append((100002, src[rows[1][0]]))              # exact dup of second
    near = rows[2][1].split()
    near[len(near) // 2] = "MUTATED"
    rows.append((100003, " ".join(near)))               # near dup of third
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, dup_docs):
    out = dedup.exact_dedup(dup_docs).toPandas()
    assert len(out) == 2
    assert set(out["n_dups"]) == {2}


def test_minhash_lsh_finds_planted_near_dup(spark, dup_docs):
    pairs = dedup.minhash_lsh_pairs(dup_docs, jaccard_threshold=0.5).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    # exact dups certainly; near dup should be found at threshold 0.5
    base = dup_docs.toPandas().sort_values("doc_id")
    first_ids = base["doc_id"].tolist()
    assert (first_ids[0], 100001) in got
    assert (first_ids[1], 100002) in got
    assert any(b == 100003 for _, b in got), "near-dup missed by LSH"
    assert (pairs["jaccard"] >= 0.5).all()


def test_ngram_jaccard_is_exact_reference(spark, dup_docs):
    pairs = dedup.ngram_jaccard_pairs(dup_docs, threshold=0.5).toPandas()
    got = {tuple(x): j for *x, j in pairs[["id_a", "id_b", "jaccard"]].itertuples(index=False)}
    base = dup_docs.toPandas().sort_values("doc_id")
    fid = base["doc_id"].tolist()
    assert got[(fid[0], 100001)] == 1.0
    # LSH must be a subset of exact at the same threshold
    lsh = dedup.minhash_lsh_pairs(dup_docs, jaccard_threshold=0.5).toPandas()
    lset = set(map(tuple, lsh[["id_a", "id_b"]].to_numpy()))
    assert lset <= set(got)


def test_minhash_reference_values(spark, dup_docs):
    """Pin the md5/affine-permutation semantics: recompute one doc's
    signature with plain hashlib + int math (no numpy reduceat path)."""
    import hashlib

    sig = dedup.minhash_signatures(dup_docs, num_hashes=4).toPandas()
    base = dup_docs.toPandas().sort_values("doc_id").iloc[0]
    toks = base["text"].lower().split()
    shs = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)] \
        if len(toks) >= 3 else [" ".join(toks)]
    for i in range(4):
        A, B = dedup._MINHASH_A[i], dedup._MINHASH_B[i]
        want = min(
            (int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") * A
             + B) % (1 << 64) for s in shs)
        got = int(sig[sig.doc_id == base["doc_id"]][f"m{i}"].iloc[0]) \
            % (1 << 64)
        assert got == want


def test_minhash_empty_and_short_docs(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two"), (4, "a b c d")],
        "doc_id long, text string")
    sig = dedup.minhash_signatures(df, num_hashes=4).toPandas() \
        .set_index("doc_id")
    assert (sig.loc[1] == 0).all() and (sig.loc[2] == 0).all()
    assert (sig.loc[3] != 0).any() and (sig.loc[4] != 0).any()


def test_simhash_reference_values(spark):
    """Pin simhash semantics against a scalar reimplementation."""
    import hashlib

    txt = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame([(1, txt), (2, "")],
                               "doc_id long, text string")
    out = dedup.simhash64(df).toPandas().set_index("doc_id")
    acc = [0] * 64
    for t in txt.split():
        h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
        for i in range(64):
            acc[i] += 1 if (h >> i) & 1 else -1
    want = sum(1 << i for i in range(64) if acc[i] > 0)
    assert int(out.loc[1, "simhash"]) % (1 << 64) == want
    assert int(out.loc[2, "simhash"]) == 0


def test_cosine_self_topk_row_guard(spark, embs):
    import pytest as _pt

    from proj_spark.operators.similarity import cosine_self_topk

    with _pt.raises(ValueError, match="max_rows"):
        cosine_self_topk(embs, 3, max_rows=10)


def test_simhash_near_pairs(spark, dup_docs):
    pairs = dedup.simhash_near_pairs(dup_docs, max_hamming=3).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    base = dup_docs.toPandas().sort_values("doc_id")
    fid = base["doc_id"].tolist()
    assert (fid[0], 100001) in got  # identical text -> hamming 0
    assert (pairs["hamming"] <= 3).all()


def test_simhash_near_pairs_rejects_unguaranteed_distance(spark, dup_docs):
    """Four 16-bit blocks guarantee a shared block only for distance <= 3;
    a larger bound would silently miss pairs that differ in every block."""
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_near_pairs(dup_docs, max_hamming=4)


# -------------------------------------------------------------- similarity


def test_bruteforce_cosine_topk_matches_numpy(spark, embs):
    k = 5
    sub = embs.limit(100)
    out = similarity.cosine_self_topk(sub, k).toPandas()
    pdf = sub.toPandas()
    M = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = M @ M.T
    np.fill_diagonal(sims, -np.inf)
    ids = pdf["vec_id"].to_numpy()
    for q in range(5):
        order = np.lexsort((ids, -sims[q]))[:k]
        want = ids[order].tolist()
        got = (
            out[out["qid"] == ids[q]].sort_values("rank")["rid"].tolist()
        )
        assert got == want


def test_lsh_finds_planted_near_duplicates(spark, embs):
    """Sign-LSH's contract is high-cosine retrieval (embedding near-dup):
    plant perturbed copies (cos ~0.995) and require >=90% to surface their
    partner as the top-1 neighbor. (On *uniform random* vectors top-k
    cosine is ~0.2 and NO sublinear method separates it from noise — that
    regime is the brute-force tier's job, not LSH's.)"""
    rng = np.random.default_rng(7)
    base = embs.limit(100).toPandas()
    rows = []
    for vid, vec in zip(base["vec_id"], base["embedding"]):
        v = np.asarray(vec, dtype=np.float64)
        rows.append((int(vid), v.tolist()))
        w = v + rng.normal(0, 0.1 * np.linalg.norm(v) / np.sqrt(len(v)), len(v))
        rows.append((int(vid) + 100000, w.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    approx = similarity.rhp_lsh_topk(df, 1, dim=64, bands=8).toPandas()
    top1 = dict(zip(approx[approx["rank"] == 1]["qid"], approx[approx["rank"] == 1]["rid"]))
    hits = sum(1 for vid in base["vec_id"] if top1.get(int(vid)) == int(vid) + 100000)
    assert hits >= 90, f"planted partner found for only {hits}/100 queries"


def test_ivf_finds_planted_near_duplicates(spark, embs):
    """Same planted-partner contract as the LSH tier, via the IVF index
    (sample-trained spherical k-means + multi-assigned inverted lists):
    cos ~0.995 partners must surface as top-1 for >=90% of queries."""
    rng = np.random.default_rng(11)
    base = embs.limit(100).toPandas()
    rows = []
    for vid, vec in zip(base["vec_id"], base["embedding"]):
        v = np.asarray(vec, dtype=np.float64)
        rows.append((int(vid), v.tolist()))
        w = v + rng.normal(0, 0.1 * np.linalg.norm(v) / np.sqrt(len(v)), len(v))
        rows.append((int(vid) + 100000, w.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    approx = similarity.ivf_topk(df, 1, dim=64, n_hint=200).toPandas()
    top1 = dict(zip(approx[approx["rank"] == 1]["qid"],
                    approx[approx["rank"] == 1]["rid"]))
    hits = sum(1 for vid in base["vec_id"]
               if top1.get(int(vid)) == int(vid) + 100000)
    assert hits >= 90, f"planted partner found for only {hits}/100 queries"


def test_ivf_topk_deterministic(spark, embs):
    """Same input -> identical result set (hash-ordered sample + fixed
    init + fixed iteration count; no RNG anywhere in the operator)."""
    a = similarity.ivf_topk(embs, 2, dim=64, n_hint=500).toPandas()
    b = similarity.ivf_topk(embs, 2, dim=64, n_hint=500).toPandas()
    key = lambda d: sorted(map(tuple, d[["qid", "rid", "rank"]].to_numpy()))
    assert key(a) == key(b)


def test_exact_tier_never_returns_the_query(spark):
    """k >= n: every query gets its n - 1 other vectors, never itself
    (the self pair's -inf cosine is dropped, not ranked last)."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 1.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    out = similarity.cosine_self_topk(df, 3).toPandas()
    assert len(out) == 6 and (out["qid"] != out["rid"]).all()
    assert np.isfinite(out["cosine"]).all()
    assert sorted(out["rank"]) == [1, 1, 1, 2, 2, 2]


def _candidate_topk(ids, M, q_keys, d_keys, k):
    """Numpy reference: each query's top-k by (-cosine, rid) over the data
    vectors sharing at least one key with it, self excluded."""
    n, nkeys = len(ids), int(max(q_keys.max(), d_keys.max())) + 1
    qh, dh = np.zeros((n, nkeys)), np.zeros((n, nkeys))
    qh[np.arange(n)[:, None], q_keys] = 1
    dh[np.arange(n)[:, None], d_keys] = 1
    cand = qh @ dh.T > 0
    np.fill_diagonal(cand, False)
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    M = M / np.where(norms == 0, 1.0, norms)
    want = {}
    for q in range(n):
        idx = np.flatnonzero(cand[q])
        cos = np.sum(M[q] * M[idx], axis=1)
        top = np.lexsort((ids[idx], -cos))[:k]
        if len(top):
            want[int(ids[q])] = (ids[idx][top].tolist(), cos[top])
    return want


@pytest.mark.parametrize("tier", ["lsh", "ivf"])
def test_scale_tiers_rank_exactly_over_their_candidates(spark, sf_dir, tier):
    """Each scale tier returns exactly the numpy top-k over its own
    candidate set, rebuilt here from the rhp_band_keys / ivf_assign keys:
    LSH queries probe band * 2^block_bits + bucket and its Hamming-1
    flips against the data's band keys; IVF queries probe their 8 nearest
    lists against the data's 2 nearest, with nlist ~ sqrt(n)."""
    import math
    import pathlib

    path = pathlib.Path(sf_dir).parent / "sf0.01" / "embeddings.parquet"
    if not path.exists():
        pytest.skip(f"{path} not generated")
    e = spark.read.parquet(str(path))
    n, k = e.count(), 3
    if tier == "lsh":
        bb = 5
        out = similarity.rhp_lsh_topk(e, k, 64, block_bits=bb)
        keyed = similarity.rhp_band_keys(e, 64, block_bits=bb)
        pdf = keyed.select("vec_id", "embedding", "bks").toPandas()
        bks = np.vstack(pdf["bks"].to_numpy())
        d_keys = np.arange(bks.shape[1]) * (1 << bb) + bks
        flips = 1 << np.arange(bb)
        q_keys = np.concatenate(
            [d_keys, (d_keys[:, :, None] ^ flips).reshape(n, -1)], axis=1)
    else:
        nlist = max(4, min(65536, int(math.sqrt(n))))
        out = similarity.ivf_topk(e, k, 64, n_hint=n)
        C = similarity.kmeans_codebook(e, nlist, 64, n_hint=n)
        pdf = similarity.ivf_assign(e, C, 8).select(
            "vec_id", "embedding", "ivf_lists").toPandas()
        lists = np.vstack(pdf["ivf_lists"].to_numpy())
        q_keys, d_keys = lists[:, :8], lists[:, :2]
    ids = pdf["vec_id"].to_numpy()
    M = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    want = _candidate_topk(ids, M, q_keys, d_keys, k)

    got = out.toPandas().sort_values(["qid", "rank"])
    assert set(got["qid"]) == set(want)
    for qid, g in got.groupby("qid"):
        rids, cos = want[qid]
        assert g["rid"].tolist() == rids, qid
        assert g["rank"].tolist() == list(range(1, len(rids) + 1))
        assert np.allclose(g["cosine"].to_numpy(), cos, rtol=0, atol=1e-12)


@pytest.mark.parametrize("tier", ["exact", "lsh", "ivf"])
def test_null_and_ragged_embeddings(spark, embs, tier):
    """A null embedding matches nothing and leaves the other rows' answer
    unchanged; a vector of the wrong length raises one error naming the
    expected length, in every tier."""
    from pyspark.errors import PythonException

    run = {"exact": lambda d: similarity.cosine_self_topk(d, 3),
           "lsh": lambda d: similarity.rhp_lsh_topk(d, 3, 64),
           "ivf": lambda d: similarity.ivf_topk(d, 3, 64)}[tier]
    schema = "vec_id long, embedding array<double>"
    base = [(int(i), [float(x) for x in v]) for i, v in
            embs.limit(40).select("vec_id", "embedding").collect()]
    key = lambda d: sorted(map(tuple, d[["qid", "rid", "rank"]].to_numpy()))

    got = run(spark.createDataFrame(base + [(-1, None)], schema)).toPandas()
    want = run(spark.createDataFrame(base, schema)).toPandas()
    assert -1 not in set(got["qid"]) | set(got["rid"])
    assert key(got) == key(want)

    ragged = spark.createDataFrame(base + [(-2, base[0][1][:63])], schema)
    with pytest.raises((ValueError, PythonException),
                       match=r"vectors are 63-dim, expected 64"):
        run(ragged).collect()


# -------------------------------------------------------------- multimodal


def test_image_features_and_psnr_roundtrip(spark):
    imgs = images_df(spark, 64, real_png=True)
    feats = multimodal.image_features(imgs).toPandas()
    assert len(feats) == 64  # png + raw both decodable
    assert ((feats["mean_r"] >= 0) & (feats["mean_r"] <= 255)).all()

    # decoded PNG pixels are bit-exact (lossless codec): PSNR = inf >= 40dB
    row = make_image_row(0, real_png=True)
    px = decode_png(row["bytes"])
    ref = _gradient_pixels(int(np.uint64(row["phash"])), row["w"], row["h"])
    assert np.array_equal(px, ref)


def test_decode_stub_raises_for_foreign_fmt(spark):
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\xff\xd8\xff", 4, 4, "jpeg")


def test_image_features_skips_undecodable_unless_strict(spark):
    rows = [("a", b"\xff\xd8\xff", 4, 4, "jpeg", "c", 1)]
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long",
    )
    assert multimodal.image_features(df).count() == 0
    with pytest.raises(Exception):
        multimodal.image_features(df, strict=True).count()


def test_connected_components_chain_and_clusters(spark):
    # chain 1-2-3-4 plus pair (10,11) plus self-contained triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long")
    comp = dedup.connected_components(edges).toPandas() \
        .set_index("node")["component"].to_dict()
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20}


def test_dedup_clusters_lsh_tier_matches_exact(spark, dup_docs):
    """The LSH banded pair source must produce the same clusters as the
    exact pair source on the planted-dup corpus (recall check for the
    scale tier feeding the same label propagation)."""
    exact = dedup.dedup_clusters(dup_docs, threshold=0.5).toPandas()
    lsh_pairs = dedup.minhash_lsh_pairs(dup_docs, jaccard_threshold=0.5)
    lsh = dedup.dedup_clusters(dup_docs, pairs=lsh_pairs).toPandas()
    e = exact.sort_values("doc_id").reset_index(drop=True)
    l = lsh.sort_values("doc_id").reset_index(drop=True)
    assert (e.values == l.values).all()
    # the planted exact dups share clusters
    by_id = e.set_index("doc_id")
    base = dup_docs.toPandas().sort_values("doc_id")["doc_id"].tolist()
    assert by_id.loc[base[0], "cluster_id"] == by_id.loc[100001, "cluster_id"]
    assert by_id.loc[base[0], "cluster_size"] >= 2
