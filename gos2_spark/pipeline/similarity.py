"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k with the scoring matmul in a vectorized
Arrow kernel (one numpy GEMM per batch). Scale path: random-hyperplane LSH
bucketing (candidates from band collisions only) and an IVF variant
(coarse k-means centroids -> probe the nearest nprobe lists).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType

from ..spark.functions import pandas_udf
from ..spark.session import literal_frame


def _qmat_udf(queries: np.ndarray, normalize: bool):
    """pandas UDF: embedding column -> array of cosine/dot scores vs queries.

    One (batch x dim) @ (dim x nq) GEMM per Arrow batch.
    """
    Q = np.asarray(queries, dtype=np.float64)
    if normalize:
        Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)

    from pyspark.sql.types import ArrayType

    @pandas_udf(ArrayType(DoubleType()))
    def score(emb: pd.Series) -> pd.Series:
        M = np.array([np.asarray(e, dtype=np.float64) for e in emb])
        if normalize:
            M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        S = M @ Q.T
        return pd.Series(list(S))

    return score


def brute_force_topk(
    emb_df: DataFrame,
    queries: list[tuple[object, list[float]]],
    k: int = 10,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k per query over the full table.

    Scoring is one GEMM per Arrow batch; ranking is a per-query window.
    Returns (qid, key, rank, score). Deterministic tie-break (score desc,
    key asc).
    """
    from pyspark.sql.window import Window

    qids = [str(q[0]) for q in queries]
    Q = np.array([q[1] for q in queries], dtype=np.float64)
    score_udf = _qmat_udf(Q, normalize=(metric == "cosine"))
    scored = emb_df.select(
        F.col(key_col).alias("key"),
        F.posexplode(score_udf(F.col(emb_col))).alias("q_idx", "score"),
    )
    qmap = F.array(*[F.lit(q) for q in qids])
    w = Window.partitionBy("q_idx").orderBy(F.desc("score"), F.asc("key"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.element_at(qmap, F.col("q_idx") + 1).alias("qid"),
            "key", "rank", F.col("score"),
        )
    )


def _hyperplanes(dim: int, num_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    H = rng.normal(size=(num_planes, dim))
    return H / np.linalg.norm(H, axis=1, keepdims=True)


def lsh_signature_udf(planes: np.ndarray):
    """Sign-of-projection bit signature as int64 (random hyperplane LSH)."""
    from pyspark.sql.types import LongType

    P = np.asarray(planes, dtype=np.float64)

    @pandas_udf(LongType())
    def sig(emb: pd.Series) -> pd.Series:
        M = np.array([np.asarray(e, dtype=np.float64) for e in emb])
        bits = (M @ P.T) > 0  # (batch, num_planes)
        weights = (np.uint64(1) << np.arange(P.shape[0], dtype=np.uint64))
        out = (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
        return pd.Series(out.view(np.int64))

    return sig


def lsh_topk(
    emb_df: DataFrame,
    queries: list[tuple[object, list[float]]],
    k: int = 10,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates = rows sharing any LSH band with the
    query signature, then exact cosine rerank of candidates only.

    num_planes/bands trade recall for candidate count; at 100 TB the
    banded signature join is a plain broadcast hash join.
    """
    sample = queries[0][1]
    planes = _hyperplanes(len(sample), num_planes, seed)
    sig_udf = lsh_signature_udf(planes)
    bits_per_band = num_planes // bands

    def band_cols(sig_col):
        mask = (1 << bits_per_band) - 1
        return [
            F.shiftright(sig_col, b * bits_per_band).bitwiseAND(F.lit(mask)).alias(f"band_{b}")
            for b in range(bands)
        ]

    data = emb_df.select(
        F.col(key_col).alias("key"), F.col(emb_col).alias("emb"),
        sig_udf(F.col(emb_col)).alias("sig"),
    ).select("key", "emb", *band_cols(F.col("sig")))

    # query signatures computed driver-side with the same planes
    Q = np.array([q[1] for q in queries], dtype=np.float64)
    qbits = (Q @ planes.T) > 0
    weights = (np.uint64(1) << np.arange(num_planes, dtype=np.uint64))
    qsigs = (qbits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64).view(np.int64)
    mask = (1 << bits_per_band) - 1
    qrows = []
    for (qid, _), s in zip(queries, qsigs):
        for b in range(bands):
            qrows.append((str(qid), b, (int(s) >> (b * bits_per_band)) & mask))
    spark = emb_df.sparkSession
    qdf = literal_frame(spark, qrows, "qid string, band int, band_val long")

    cand = None
    for b in range(bands):
        m = data.join(
            F.broadcast(qdf.where(F.col("band") == b)),
            data[f"band_{b}"] == F.col("band_val"),
            "inner",
        ).select("qid", "key", "emb")
        cand = m if cand is None else cand.unionByName(m)
    cand = cand.dropDuplicates(["qid", "key"])

    # exact rerank of candidates
    qmap = {str(qid): i for i, (qid, _) in enumerate(queries)}
    score_udf = _qmat_udf(Q, normalize=True)
    qidx = F.create_map(*[x for qid, i in qmap.items() for x in (F.lit(qid), F.lit(i))])
    rescored = cand.select(
        "qid", "key",
        F.element_at(score_udf(F.col("emb")), qidx[F.col("qid")] + 1).alias("score"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("key"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "key", "rank", "score")
    )


def _norm_emb_sql(emb_col):
    """[SQL] L2-normalized copy of an array column — native zip-free exprs
    (aggregate + transform), no UDF, stays in codegen."""
    nrm = F.sqrt(
        F.aggregate(
            emb_col, F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return F.transform(emb_col, lambda x: x.cast("double") / F.greatest(nrm, F.lit(1e-12)))


def cosine_near_dup_pairs(
    emb_df: DataFrame,
    threshold: float = 0.95,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    method: str = "brute",
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (key_a < key_b, cosine >= t).

    method='brute': exact all-pairs via a self-join — the dot product is a
    native aggregate/zip_with expression (no Python), so the only cost is
    the O(N^2/2) join itself. Use for oracle checks and small slices.
    method='lsh': candidate pairs = rows sharing any random-hyperplane LSH
    band (broadcast-free equi-join on band values — at 100 TB this is the
    shuffle-bounded scale path), then the same exact cosine filter; a
    subset of brute-force results (missed pairs = bands' recall loss).
    """
    norm = emb_df.select(
        F.col(key_col).alias("key"), _norm_emb_sql(F.col(emb_col)).alias("ne")
    )
    if method == "brute":
        a = norm.select(F.col("key").alias("key_a"), F.col("ne").alias("ne_a"))
        b = norm.select(F.col("key").alias("key_b"), F.col("ne").alias("ne_b"))
        pairs = a.join(b, F.col("key_a") < F.col("key_b"), "inner")
    elif method == "lsh":
        dim = len(norm.select("ne").first()["ne"])
        planes = _hyperplanes(dim, num_planes, seed)
        sig_udf = lsh_signature_udf(planes)
        bits_per_band = num_planes // bands
        mask = (1 << bits_per_band) - 1
        sig = norm.withColumn("sig", sig_udf(F.col("ne")))
        banded = sig.select(
            "key", "ne",
            F.explode(F.array(*[
                F.shiftright(F.col("sig"), b * bits_per_band)
                .bitwiseAND(F.lit(mask)) * (bands + 1) + b
                for b in range(bands)
            ])).alias("band_key"),
        )
        a = banded.select(F.col("key").alias("key_a"), F.col("ne").alias("ne_a"), "band_key")
        b = banded.select(F.col("key").alias("key_b"), F.col("ne").alias("ne_b"), "band_key")
        pairs = (
            a.join(b, ["band_key"], "inner")
            .where(F.col("key_a") < F.col("key_b"))
            .dropDuplicates(["key_a", "key_b"])
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    cos = F.aggregate(
        F.zip_with(F.col("ne_a"), F.col("ne_b"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    return pairs.select("key_a", "key_b", cos.alias("cosine")).where(
        F.col("cosine") >= threshold
    )


def ivf_build_centroids(
    emb_df: DataFrame, num_centroids: int = 64, emb_col: str = "embedding",
    sample_rows: int = 20000, iters: int = 10, seed: int = 42,
) -> np.ndarray:
    """Coarse quantizer: mini k-means on a driver-side sample (numpy)."""
    sample = [
        np.asarray(r[0], dtype=np.float64)
        for r in emb_df.select(emb_col).limit(sample_rows).collect()
    ]
    X = np.array(sample)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(num_centroids, len(X)), replace=False)]
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                v = members.mean(axis=0)
                C[c] = v / max(np.linalg.norm(v), 1e-12)
    return C


def ivf_fixed_centroids(
    dim: int = 64, num_centroids: int = 16, seed: int = 7
) -> np.ndarray:
    """Deterministic data-independent coarse quantizer: seeded random unit
    vectors. Worse recall than the k-means quantizer (``ivf_build_centroids``)
    but a pure function of (dim, num_centroids, seed), so a SQL oracle can
    embed the identical centroids as literals (same trick as the LSH
    hyperplanes in ``duckdb_oracles.ann_lsh_oracle_sql``)."""
    rng = np.random.default_rng(seed)
    C = rng.normal(size=(num_centroids, dim))
    return C / np.linalg.norm(C, axis=1, keepdims=True)


def ivf_topk(
    emb_df: DataFrame,
    queries: list[tuple[object, list[float]]],
    k: int = 10,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    centroids: np.ndarray | None = None,
    num_centroids: int = 64,
    nprobe: int = 8,
) -> DataFrame:
    """IVF ANN: assign rows to nearest centroid (one GEMM per batch), probe
    only the nprobe lists nearest each query, exact rerank inside them.

    At scale the centroid assignment doubles as the partition/bucketing key
    for the stored table, so probes become partition-pruned scans.
    """
    if centroids is None:
        centroids = ivf_build_centroids(emb_df, num_centroids, emb_col)
    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf(IntegerType())
    def assign(emb: pd.Series) -> pd.Series:
        M = np.array([np.asarray(e, dtype=np.float64) for e in emb])
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return pd.Series((M @ C.T).argmax(axis=1).astype(np.int32))

    data = emb_df.select(
        F.col(key_col).alias("key"), F.col(emb_col).alias("emb"),
        assign(F.col(emb_col)).alias("list_id"),
    )
    Q = np.array([q[1] for q in queries], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    probe_rows = []
    for (qid, _), scores in zip(queries, Qn @ C.T):
        for c in np.argsort(-scores)[:nprobe]:
            probe_rows.append((str(qid), int(c)))
    spark = emb_df.sparkSession
    probes = literal_frame(spark, probe_rows, "qid string, list_id int")
    cand = data.join(F.broadcast(probes), "list_id", "inner")

    score_udf = _qmat_udf(Q, normalize=True)
    qmap = {str(qid): i for i, (qid, _) in enumerate(queries)}
    qidx = F.create_map(*[x for qid, i in qmap.items() for x in (F.lit(qid), F.lit(i))])
    rescored = cand.select(
        "qid", "key",
        F.element_at(score_udf(F.col("emb")), qidx[F.col("qid")] + 1).alias("score"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("key"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "key", "rank", "score")
    )
