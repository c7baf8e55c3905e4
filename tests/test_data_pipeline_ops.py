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
    pairs = dedup.minhash_lsh_pairs(
        dup_docs, num_hashes=8, bands=4, jaccard_threshold=0.5
    ).toPandas()
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
