"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-aware; the three pair tiers explode an array of
keys per doc once and self-join on the key (_key_pairs):

  * exact_dedup          — md5 content hash + groupBy; one shuffle on the
                           hash key (near-uniform => no skew), keeps the
                           smallest doc_id as canonical. SQL-oracle-able.
  * minhash_lsh_pairs    — shingle -> 64-bit hash -> k min-hash permutations
                           -> band keys -> candidate join -> exact
                           Jaccard verify. The scale path for near-dup at
                           10^9+ docs: cost is O(n * k) map-side plus a
                           self-join restricted to shared band keys.
  * simhash_near_pairs   — 64-bit SimHash signature + hamming-distance
                           pairing on its four 16-bit blocks.
  * ngram_jaccard_pairs  — exact pairwise Jaccard via shingle explode +
                           self-join on shingle (groupBy pair); quadratic
                           in bucket size, linear in corpus — the oracle /
                           small-corpus reference the LSH tier is verified
                           against. SQL-oracle-able.

Determinism: every hash is content-derived (md5 + fixed odd
multipliers, mod-2^64 wrap). No rand(), no process-salted hash() — resume
and the DuckDB oracle both depend on it.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Fixed odd multipliers/offsets for the k minhash permutations:
# perm_i(h) = (A[i]*h + B[i]) mod 2^64  (numpy uint64 wrap). Constants are
# capped < 2^62 so the DuckDB oracle can reproduce the arithmetic in
# HUGEINT (h*A < 2^64 * 2^62 = 2^126 < HUGEINT max) — see
# __spark_entry__.oracle_sql. Odd => bijective mod 2^64.
_MINHASH_A = [
    0x1E3779B97F4A7C15, 0x3F58476D1CE4E5B9, 0x14D049BB133111EB, 0x2545F4914F6CDD1D,
    0x3F51AFD7ED558CCD, 0x04CEB9FE1A85EC53, 0x16E8FEB86659FD93, 0x25A5A5A5A5A5A5A5,
]
_MINHASH_B = [
    0x0123456789ABCDEF, 0x3EDCBA9876543210, 0x0F1E2D3C4B5A6978, 0x1B2A39485766F5E4,
    0x1EADBEEFCAFEF00D, 0x123456789ABCDEF0, 0x0BAD5EED0BAD5EED, 0x1555AAAA5555AAAA,
]


_SHINGLE_N = 3
_BANDS, _ROWS = 4, 2  # minhash_lsh_pairs: 4 bands of 2 hashes each
_SIMHASH_BLOCKS = 4  # 16-bit blocks of the 64-bit simhash


def shingles(text: pd.Series, n: int = _SHINGLE_N) -> list[list[str]]:
    """Lowercased whitespace-token n-gram shingles per document."""
    out = []
    for s in text:
        toks = (s or "").lower().split()
        if len(toks) < n:
            out.append([" ".join(toks)] if toks else [])
        else:
            out.append([" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)])
    return out



# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(content_hash, n_dups, canonical_id) for every duplicated content.

    At scale: md5 keys are uniform, so the single shuffle is skew-free;
    partial aggregation means the map side emits one row per distinct hash
    per task before shuffling.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("canonical_id"),
        )
        .filter(F.col("n_dups") > 1)
    )



# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 8,
) -> DataFrame:
    """(id, m0..m{k-1}) minhash signature columns (int64 bit patterns)."""
    assert num_hashes <= len(_MINHASH_A)
    A = np.array(_MINHASH_A[:num_hashes], dtype=np.uint64)
    B = np.array(_MINHASH_B[:num_hashes], dtype=np.uint64)
    fields = ", ".join(f"m{i} long" for i in range(num_hashes))

    @pandas_udf(fields)
    def _sig(text: pd.Series) -> pd.DataFrame:
        sh = shingles(text)
        out = np.zeros((len(text), num_hashes), dtype=np.uint64)
        counts = np.fromiter((len(d) for d in sh), dtype=np.int64,
                             count=len(sh))
        flat = [s for doc in sh for s in doc]
        if flat:
            md5 = hashlib.md5
            hs = np.fromiter(
                (int.from_bytes(md5(s.encode()).digest()[:8], "big")
                 for s in flat),
                dtype=np.uint64, count=len(flat))
            with np.errstate(over="ignore"):
                # one (k, total) permute + segment minima across the whole
                # Arrow batch — no per-doc numpy dispatch
                # sentinel column: the final reduceat segment runs to the
                # end of the array, so it must be the identity for min
                perm = np.concatenate(
                    [hs[None, :] * A[:, None] + B[:, None],
                     np.full((num_hashes, 1), np.iinfo(np.uint64).max,
                             dtype=np.uint64)], axis=1)
            bounds = np.zeros(len(sh), dtype=np.int64)
            np.cumsum(counts[:-1], out=bounds[1:])
            mins = np.minimum.reduceat(perm, bounds, axis=1).T
            nonempty = counts > 0
            out[nonempty] = mins[nonempty]
        return pd.DataFrame(
            {f"m{i}": out[:, i].view(np.int64) for i in range(num_hashes)}
        )

    sig = df.withColumn("_s", _sig(F.col(text_col)))
    return sig.select(F.col(id_col), *[F.col(f"_s.m{i}").alias(f"m{i}") for i in range(num_hashes)])


def _key_pairs(df: DataFrame, id_col: str, keys: Column,
               carry: Column | None = None) -> DataFrame:
    """(id_a, id_b, c_a, c_b), one row per key two rows share, id_a <
    id_b: the ``keys`` array is exploded once and self-joined on the key;
    ``carry`` rides along per side. Keep both non-nullable: Spark infers
    isnotnull on a nullable key or filter input below the Project and
    re-runs the UDF behind it. explode_outer, as an inner explode of a
    column makes Spark infer size(keys) > 0 there too; the null key of an
    empty array joins nothing."""
    ex = df.select(F.col(id_col).alias("id"), F.explode_outer(keys).alias("key"),
                   (F.lit(0) if carry is None else carry).alias("c"))

    def side(s: str) -> DataFrame:
        return ex.select("key", F.col("id").alias(f"id_{s}"), F.col("c").alias(f"c_{s}"))

    return (side("a").join(side("b"), "key")
            .filter(F.col("id_a") < F.col("id_b")).drop("key"))


def connected_components(
    edges: DataFrame, a_col: str = "id_a", b_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node long, component long): connected components of an undirected
    edge list, component = smallest node id in the component.

    Hash-to-min label propagation: every node repeatedly adopts the
    minimum label in its closed neighborhood. Converges in O(diameter)
    rounds — duplicate clusters have tiny diameters, so this is 2-4
    shuffles in practice; each round is a partial-aggregated groupBy on
    the node id (skew-free for dedup workloads where components are
    small). The loop stops early when a round changes no label.

    At 10^9+ nodes the per-round plan is: edges (static, cached) join
    labels (n rows) -> explode both directions -> min-agg. No driver
    collect; the only driver-side value per round is the changed-count.
    """
    sym = edges.select(
        F.col(a_col).cast("long").alias("src"),
        F.col(b_col).cast("long").alias("dst"),
    ).unionByName(edges.select(
        F.col(b_col).cast("long").alias("src"),
        F.col(a_col).cast("long").alias("dst"),
    )).distinct()
    sym.persist()
    labels = sym.select(F.col("src").alias("node")).distinct() \
        .withColumn("component", F.col("node"))
    for _ in range(max_iter):
        # neighbor labels + own label -> min
        nbr = sym.join(labels.withColumnRenamed("node", "dst"), "dst") \
            .select(F.col("src").alias("node"), "component")
        new_labels = labels.unionByName(nbr).groupBy("node").agg(
            F.min("component").alias("component"))
        new_labels.persist()
        changed = new_labels.alias("n").join(
            labels.alias("o"), "node").filter(
            F.col("n.component") != F.col("o.component")).count()
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    return labels


def dedup_clusters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    threshold: float = 0.5, pairs: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size): near-duplicate clusters.

    ``pairs`` defaults to the exact n-gram Jaccard pair set (the
    oracle-parity tier); pass ``minhash_lsh_pairs(...)`` output for the
    O(n) banded scale tier — the clustering step is identical."""
    if pairs is None:
        pairs = ngram_jaccard_pairs(df, threshold=threshold,
                                    text_col=text_col, id_col=id_col)
    comp = connected_components(pairs, "id_a", "id_b")
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    labeled = comp.join(sizes, "component").select(
        F.col("node").alias(id_col),
        F.col("component").alias("cluster_id"),
        "cluster_size")
    # singletons: docs in no pair form their own cluster of size 1
    singles = df.select(id_col).join(labeled.select(id_col), id_col,
                                     "left_anti").select(
        F.col(id_col),
        F.col(id_col).cast("long").alias("cluster_id"),
        F.lit(1).cast("long").alias("cluster_size"))
    return labeled.unionByName(singles)



def minhash_lsh_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    Plan: signatures (one UDF pass, no shuffle) -> 4 band keys per doc ->
    one self-join on the band key (shuffle on band hash — uniform) ->
    distinct candidates -> exact Jaccard verification via a shingle-set
    UDF on the candidate pairs only. Candidates are a vanishing fraction
    of n^2, which is the entire point of LSH at 10^12 scale.
    """
    sig = minhash_signatures(df, text_col, id_col, _BANDS * _ROWS)
    keys = F.array(*[
        F.xxhash64(F.lit(b), *[F.col(f"m{b * _ROWS + r}") for r in range(_ROWS)])
        for b in range(_BANDS)])
    cands = _key_pairs(sig, id_col, keys).select("id_a", "id_b").distinct()

    # exact verify on candidates only
    texts = df.select(F.col(id_col), F.col(text_col))
    joined = (
        cands.join(texts.withColumnRenamed(id_col, "id_a").withColumnRenamed(text_col, "_ta"), "id_a")
        .join(texts.withColumnRenamed(id_col, "id_b").withColumnRenamed(text_col, "_tb"), "id_b")
    )

    @pandas_udf("double")
    def _jacc(ta: pd.Series, tb: pd.Series) -> pd.Series:
        sa = shingles(ta)
        sb = shingles(tb)
        out = np.empty(len(ta))
        for i, (x, y) in enumerate(zip(sa, sb)):
            X, Y = set(x), set(y)
            u = len(X | Y)
            out[i] = (len(X & Y) / u) if u else 1.0
        return pd.Series(out)

    # nondeterministic, so Spark keeps the threshold filter above the
    # Project instead of pushing it below and verifying every pair twice
    return (
        joined.withColumn("jaccard", _jacc.asNondeterministic()(F.col("_ta"), F.col("_tb")))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash long): sign-aggregated 64-bit token-hash fingerprint."""

    @pandas_udf("long")
    def _sim(text: pd.Series) -> pd.Series:
        # first 8 bytes of md5 per token, big-endian — chosen so the DuckDB
        # oracle reproduces it exactly: ('0x' || substr(md5(t),1,16))::UBIGINT.
        # Bit unpack + sign aggregation run batch-wide (segment reduceat),
        # not per doc/token.
        docs = [(s or "").lower().split() for s in text]
        out = np.zeros(len(text), dtype=np.uint64)
        counts = np.fromiter((len(d) for d in docs), dtype=np.int64,
                             count=len(docs))
        flat = [t for d in docs for t in d]
        if flat:
            md5 = hashlib.md5
            hs = np.fromiter(
                (int.from_bytes(md5(t.encode()).digest()[:8], "big")
                 for t in flat),
                dtype=np.uint64, count=len(flat))
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                    & np.uint64(1)).astype(np.int8)
            contrib = np.concatenate(
                [bits * np.int8(2) - np.int8(1),
                 np.zeros((1, 64), dtype=np.int8)], axis=0)
            bounds = np.zeros(len(docs), dtype=np.int64)
            np.cumsum(counts[:-1], out=bounds[1:])
            acc = np.add.reduceat(contrib.astype(np.int32), bounds, axis=0)
            sim = ((acc > 0).astype(np.uint64)
                   << np.arange(64, dtype=np.uint64)[None, :]).sum(
                axis=1, dtype=np.uint64)
            nonempty = counts > 0
            out[nonempty] = sim[nonempty]
        return pd.Series(out.view(np.int64))

    return df.select(F.col(id_col), _sim(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with hamming(simhash) <= max_hamming: each doc is keyed by its
    four (block index, 16-bit block) values, and a pair within distance
    d <= 3 shares at least one block (pigeonhole). max_hamming >= 4 raises
    ValueError: such a pair may differ in every block."""
    if max_hamming >= _SIMHASH_BLOCKS:
        raise ValueError(f"max_hamming={max_hamming}: {_SIMHASH_BLOCKS} blocks "
                         f"only guarantee a shared one for max_hamming < {_SIMHASH_BLOCKS}")
    sh = F.coalesce(F.col("simhash"), F.lit(0))  # non-null, see _key_pairs
    keys = F.array(*[
        F.lit(blk << 16).bitwiseOR(
            F.shiftrightunsigned(sh, 16 * blk).bitwiseAND(F.lit(0xFFFF)))
        for blk in range(_SIMHASH_BLOCKS)])
    ham = F.bit_count(F.col("c_a").bitwiseXOR(F.col("c_b"))).cast("int")
    return (_key_pairs(simhash64(df, text_col, id_col), id_col, keys, sh)
            .select("id_a", "id_b", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


# ---------------------------------------------------------------------------
# exact n-gram jaccard (reference tier / oracle)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs Jaccard >= threshold via relational set algebra:
    explode distinct shingles, self-join on shingle, count intersections,
    inclusion-exclusion for the union. Fully SQL-expressible (the DuckDB
    oracle runs the identical algebra), linear shuffle in total shingle
    volume; only pairs sharing >= 1 shingle ever materialize.
    """

    @pandas_udf("array<string>")
    def _sh(text: pd.Series) -> pd.Series:
        return pd.Series([sorted(set(s)) for s in shingles(text)])

    sh = df.select(F.col(id_col), F.coalesce(
        _sh(F.col(text_col)), F.array().cast("array<string>")).alias("sh"))
    return (
        _key_pairs(sh, id_col, F.col("sh"), F.size("sh"))
        .groupBy("id_a", "id_b", "c_a", "c_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("c_a") + F.col("c_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
