"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k neighbors for a (small) query
  set — JVM-side ``F.zip_with``/``F.aggregate`` dot products against a
  broadcast query table, then a per-query ``row_number`` window. The
  baseline every ANN variant is measured against.
- ``lsh_topk`` / ``cosine_neardup_pairs``: random-hyperplane (sign) LSH
  with BANDED candidate generation — the signature is split into bands and
  two vectors are candidates when they agree on ANY band (OR-construction,
  same design as minhash banding in :mod:`linref_spark.web.dedup`), which
  avoids the single-bucket recall cliff of requiring all bits to agree.
- ``ivf_topk``: IVF-Flat — a k-means coarse quantizer (trained on a
  bounded deterministic sample) buckets the corpus into inverted lists;
  queries probe their ``n_probe`` nearest lists. The scale path when
  neither side broadcasts and per-query exhaustive scans are too wide.
- Hyperplanes are deterministic (splitmix64-style integer mixing), so
  bucket assignment is reproducible across runs and cluster sizes.

Scale notes
-----------
Sign bits are computed in ONE Arrow-batched numpy matmul per batch
(``signs = X @ P.T``): the planes matrix (n_planes x dim, float64) is
captured in the UDF closure — a few hundred KB even at dim 4096 — so the
plan contains no per-coordinate expression nodes and survives production
embedding dimensions (768-4096) where an unrolled per-coordinate Catalyst
expression tree would blow up codegen. Candidate generation is a
(band, bucket) equi-join with a per-bucket size cap; brute force is
O(corpus x queries) but embarrassingly parallel (one broadcast join, no
shuffle until the final per-query top-k window).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from linref_spark import pyworker


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def cosine(a: Column, b: Column) -> Column:
    na, nb = _norm(a), _norm(b)
    return F.when(
        (na > 0) & (nb > 0), _dot(a, b) / (na * nb)
    ).otherwise(F.lit(0.0))


def _cast_double(a: Column) -> Column:
    return F.transform(a, lambda v: v.cast("double"))


def _cosine_pre(av: Column, an: Column, bv: Column, bn: Column) -> Column:
    """cosine() over PRE-cast double vectors with PRE-computed norms.

    Bit-identical to ``cosine(cast(a), cast(b))`` — same expressions over
    the same doubles — but the norms (two full array folds per pair) are
    hoisted to one fold per ROW before the join instead of per PAIR after
    it. On a corpus x queries join that is the difference between
    O(rows + pairs) and O(3 * pairs) array traversals.
    """
    return F.when(
        (an > 0) & (bn > 0), _dot(av, bv) / (an * bn)
    ).otherwise(F.lit(0.0))


def _guard_query_broadcast(queries: DataFrame, max_queries: int, caller: str) -> None:
    """Refuse to broadcast an oversized query table (bounded ``limit(n+1)``
    count, mirroring ``project_points_broadcast``'s max_routes guard —
    spatial/join.py). The top-k functions broadcast the query side by
    design ("small query set"); an unbounded broadcast would OOM the
    driver/executors silently at scale."""
    if queries.limit(max_queries + 1).count() > max_queries:
        raise ValueError(
            f"{caller}: query table exceeds max_queries={max_queries}; "
            "broadcasting it would risk an OOM. Use ivf_topk (inverted-list "
            "candidate join) for large query sets, or raise max_queries "
            "explicitly if the rows are known to be narrow."
        )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int = 1_000_000,
) -> DataFrame:
    """Exact top-k by cosine; excludes self-matches on equal ids.

    Output: (query_id, neighbor_id, rank, cos). Deterministic tie-break by
    neighbor id. Queries are broadcast (keep the query set small; fan the
    corpus, not the queries) — guarded by ``max_queries``; oversized query
    sets raise with a pointer at :func:`ivf_topk`.
    """
    _guard_query_broadcast(queries, max_queries, "cosine_topk")
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        _cast_double(F.col(vec_col)).alias("_qv"),
    ).withColumn("_qn", _norm(F.col("_qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _cast_double(F.col(vec_col)).alias("_cv"),
    ).withColumn("_cn", _norm(F.col("_cv")))
    scored = c.join(F.broadcast(q)).where(F.col("neighbor_id") != F.col(query_id_col))
    scored = scored.withColumn(
        "cos",
        _cosine_pre(F.col("_qv"), F.col("_qn"), F.col("_cv"), F.col("_cn")),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank", "cos")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """(n_planes, dim) deterministic pseudo-random hyperplanes in [-1, 1)
    from splitmix64-style integer mixing — no RNG state, identical on any
    engine/partitioning. Vectorized (uint64 wraparound arithmetic)."""
    p = np.arange(n_planes, dtype=np.uint64)[:, None]
    j = np.arange(dim, dtype=np.uint64)[None, :]
    x = (
        p * np.uint64(0x9E3779B97F4A7C15)
        + j * np.uint64(0xBF58476D1CE4E5B9)
        + np.uint64(seed)
    )
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return (x / 2.0**64) * 2.0 - 1.0


def make_lsh_bands_udf(dim: int, bands: int, rows_per_band: int, seed: int = 42):
    """Arrow UDF: embedding -> array of ``bands`` bucket ids (long).

    One numpy matmul per batch against the closure-captured planes matrix;
    bucket b packs sign bits [b*rows, (b+1)*rows) little-endian. Vectors
    shorter than ``dim`` are zero-padded, longer ones truncated (matching
    the null-coalesce semantics of coordinate access).
    """
    n_planes = bands * rows_per_band
    planes = _hyperplanes(dim, n_planes, seed)  # shipped in the task closure
    weights = (1 << np.arange(rows_per_band, dtype=np.int64))

    @pyworker.pandas_udf(ArrayType(LongType()))
    def _bands(v: pd.Series) -> pd.Series:
        n = len(v)
        X = np.zeros((n, dim), dtype=np.float64)
        null = np.zeros(n, dtype=bool)
        for i, row in enumerate(v):
            if row is None:
                null[i] = True
                continue
            a = np.asarray(row, dtype=np.float64)
            m = min(len(a), dim)
            X[i, :m] = a[:m]
        bits = (X @ planes.T) >= 0
        out = np.empty((n, bands), dtype=np.int64)
        for b in range(bands):
            out[:, b] = bits[:, b * rows_per_band : (b + 1) * rows_per_band] @ weights
        res = [None if null[i] else out[i] for i in range(n)]
        return pd.Series(res)

    return _bands


def _default_bands(n_planes: int) -> int:
    for b in (4, 3, 2, 1):
        if n_planes % b == 0:
            return b
    return 1


def with_lsh_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    vec_col: str = "embedding",
    seed: int = 42,
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Single sign-LSH bucket id (long) packing all ``n_planes`` bits.

    Computed by one batched matmul (no per-coordinate expressions). For
    candidate generation prefer :func:`with_lsh_bands` — a single
    all-bits-agree bucket has a recall cliff as dims/corpus grow.
    """
    udf = make_lsh_bands_udf(dim, 1, n_planes, seed)
    return df.withColumn(out_col, F.element_at(udf(F.col(vec_col)), 1))


def with_lsh_bands(
    df: DataFrame,
    dim: int,
    bands: int,
    rows_per_band: int,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Explode to one row per (lsh_band, lsh_bucket) — the OR-construction
    candidate key. Join on BOTH columns."""
    udf = make_lsh_bands_udf(dim, bands, rows_per_band, seed)
    return df.select(
        "*", F.posexplode(udf(F.col(vec_col))).alias("lsh_band", "lsh_bucket")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 16,
    bands: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    max_queries: int = 1_000_000,
) -> DataFrame:
    """Approximate top-k: score candidates sharing ANY signature band.

    ``n_planes`` total sign bits split into ``bands`` bands (default: the
    largest of 4/3/2/1 dividing n_planes). Recall grows with bands (more
    independent chances to collide) and falls with rows_per_band (stricter
    agreement per chance) — the same dial as minhash LSH banding.
    Queries are broadcast — guarded by ``max_queries`` (see
    :func:`ivf_topk` for large query sets).
    """
    _guard_query_broadcast(queries, max_queries, "lsh_topk")
    if bands is None:
        bands = _default_bands(n_planes)
    if n_planes % bands:
        raise ValueError("n_planes must be divisible by bands")
    rows = n_planes // bands
    # cast + norm hoisted per ROW (see _cosine_pre); the bands UDF sees the
    # double-cast vector — float->double is exact, so bucket bits are
    # unchanged
    cb = with_lsh_bands(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _cast_double(F.col(vec_col)).alias("_cv"),
        ).withColumn("_cn", _norm(F.col("_cv"))),
        dim, bands, rows, "_cv", seed,
    )
    qb = with_lsh_bands(
        queries.select(
            F.col(id_col).alias(query_id_col),
            _cast_double(F.col(vec_col)).alias("_qv"),
        ).withColumn("_qn", _norm(F.col("_qv"))),
        dim, bands, rows, "_qv", seed,
    )
    cand = (
        cb.join(F.broadcast(qb), on=["lsh_band", "lsh_bucket"])
        .where(F.col("neighbor_id") != F.col(query_id_col))
        # score BEFORE the multi-band dedup: duplicate collisions recompute
        # an identical dot (bands is small, collision multiplicity ~1), and
        # in exchange the dedup exchange ships (ids, cos) scalars instead
        # of both embedding vectors
        .withColumn(
            "cos",
            _cosine_pre(F.col("_qv"), F.col("_qn"), F.col("_cv"), F.col("_cn")),
        )
        .select(query_id_col, "neighbor_id", "cos")
        # a pair can collide in several bands — keep it once (every
        # duplicate carries the same cos, so which row survives is moot)
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank", "cos")
    )


def cosine_neardup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 16,
    bands: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket: int = 2000,
) -> DataFrame:
    """Embedding near-duplicate pairs (a < b, cos >= threshold) via a banded
    LSH self-join. Buckets larger than ``max_bucket`` per (band, bucket) are
    dropped (use :func:`lsh_bucket_metrics` with the same parameters to
    audit how much was dropped — the cap trades recall on degenerate
    boilerplate floods for a bounded join)."""
    if bands is None:
        bands = _default_bands(n_planes)
    if n_planes % bands:
        raise ValueError("n_planes must be divisible by bands")
    rows = n_planes // bands
    from linref_spark.events.frame import materialize

    # cast + norm hoisted per row; the banded table feeds THREE consumers
    # (sizes and both self-join sides) whose subtrees canonicalize
    # differently — pin it so the Arrow matmul runs once per input row
    b = materialize(
        with_lsh_bands(
            df.select(
                F.col(id_col).alias("_id"),
                _cast_double(F.col(vec_col)).alias("_v"),
            ).withColumn("_vn", _norm(F.col("_v"))),
            dim, bands, rows, "_v", seed,
        )
    )
    sizes = b.groupBy("lsh_band", "lsh_bucket").agg(F.count("*").alias("_n"))
    ok = sizes.where(F.col("_n") <= max_bucket).drop("_n")
    pruned = b.join(F.broadcast(ok), on=["lsh_band", "lsh_bucket"], how="inner")
    pairs = (
        pruned.select(
            "lsh_band", "lsh_bucket", F.col("_id").alias("a"),
            F.col("_v").alias("_va"), F.col("_vn").alias("_na"),
        )
        .join(
            pruned.select(
                "lsh_band", "lsh_bucket", F.col("_id").alias("b"),
                F.col("_v").alias("_vb"), F.col("_vn").alias("_nb"),
            ),
            on=["lsh_band", "lsh_bucket"],
        )
        .where(F.col("a") < F.col("b"))
        # score before the multi-band dedup (identical cos on every
        # duplicate) so the dedup exchange ships scalars, not two vectors
        .withColumn(
            "cos",
            _cosine_pre(F.col("_va"), F.col("_na"), F.col("_vb"), F.col("_nb")),
        )
        .select("a", "b", "cos")
        .dropDuplicates(["a", "b"])
    )
    return pairs.where(F.col("cos") >= threshold).select("a", "b", "cos")


def lsh_bucket_metrics(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    bands: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket: int = 2000,
) -> DataFrame:
    """Audit companion to :func:`cosine_neardup_pairs`: per band, how many
    buckets/rows the ``max_bucket`` cap drops. Columns:
    (lsh_band, n_buckets, n_dropped_buckets, n_dropped_rows)."""
    if bands is None:
        bands = _default_bands(n_planes)
    if n_planes % bands:
        # same contract as cosine_neardup_pairs/lsh_topk: a non-dividing
        # bands value would silently audit DIFFERENT bucketing than the
        # pairs function this claims to mirror
        raise ValueError("n_planes must be divisible by bands")
    rows = n_planes // bands
    b = with_lsh_bands(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        dim, bands, rows, "_v", seed,
    )
    sizes = b.groupBy("lsh_band", "lsh_bucket").agg(F.count("*").alias("_n"))
    return sizes.groupBy("lsh_band").agg(
        F.count("*").alias("n_buckets"),
        F.sum((F.col("_n") > max_bucket).cast("long")).alias("n_dropped_buckets"),
        F.sum(
            F.when(F.col("_n") > max_bucket, F.col("_n")).otherwise(F.lit(0))
        ).alias("n_dropped_rows"),
    )


# --- IVF-Flat (coarse-quantizer) ANN -------------------------------------------


def train_ivf_centroids(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 64,
    sample_size: int = 10000,
    n_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """K-means coarse quantizer trained on a bounded, deterministic sample.

    The sample is the ``sample_size`` lowest-id vectors (a distributed TopK
    — deterministic regardless of partitioning); Lloyd iterations run
    driver-side in numpy (n_centroids x dim is tiny). Cosine-style
    clustering: vectors are L2-normalized first, so nearest-centroid by
    dot product equals nearest by cosine. Deterministic: seeded numpy RNG
    for the k-means++ style init.
    """
    rows = (
        corpus.select(id_col, vec_col)
        .where(F.col(vec_col).isNotNull())
        .orderBy(F.col(id_col))
        .limit(sample_size)
        .collect()
    )
    X = np.zeros((len(rows), dim), dtype=np.float64)
    for i, r in enumerate(rows):
        a = np.asarray(r[vec_col], dtype=np.float64)
        X[i, : min(len(a), dim)] = a[:dim]
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    X = X / np.maximum(norms, 1e-12)
    rng = np.random.RandomState(seed)
    k = min(n_centroids, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(n_iter):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                C[c] = m / max(np.linalg.norm(m), 1e-12)
    return C


def make_ivf_assign_udf(centroids: np.ndarray, n_probe: int = 1):
    """Arrow UDF: embedding -> array of the ``n_probe`` nearest centroid
    ids (by cosine; one matmul per batch against the closure-held
    centroid matrix)."""
    C = np.asarray(centroids, dtype=np.float64)
    k, dim = C.shape
    n_probe = min(n_probe, k)

    @pyworker.pandas_udf(ArrayType(LongType()))
    def _assign(v: pd.Series) -> pd.Series:
        n = len(v)
        X = np.zeros((n, dim), dtype=np.float64)
        null = np.zeros(n, dtype=bool)
        for i, row in enumerate(v):
            if row is None:
                null[i] = True
                continue
            a = np.asarray(row, dtype=np.float64)
            m = min(len(a), dim)
            X[i, :m] = a[:m]
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        sims = X @ C.T
        if n_probe == 1:
            top = np.argmax(sims, axis=1)[:, None].astype(np.int64)
        else:
            part = np.argpartition(-sims, n_probe - 1, axis=1)[:, :n_probe]
            order = np.take_along_axis(sims, part, axis=1).argsort(axis=1)[:, ::-1]
            top = np.take_along_axis(part, order, axis=1).astype(np.int64)
        return pd.Series([None if null[i] else top[i] for i in range(n)])

    return _assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 64,
    n_probe: int = 4,
    sample_size: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF-Flat approximate top-k: corpus vectors live in their single
    nearest-centroid list; each query probes its ``n_probe`` nearest lists
    and scores those candidates exactly (the classic inverted-file ANN —
    the scale path when neither side broadcasts).

    Pass ``centroids`` to reuse a trained quantizer across calls. The scan
    per query touches ~n_probe/n_centroids of the corpus; the candidate
    join is an equi-join on centroid id (one shuffle on a small-cardinality
    key — salt with finer centroids if lists skew).
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, dim, n_centroids, sample_size, id_col=id_col,
            vec_col=vec_col, seed=seed,
        )
    assign1 = make_ivf_assign_udf(centroids, 1)
    assignp = make_ivf_assign_udf(centroids, n_probe)
    # cast + norm hoisted per row (see _cosine_pre); the assign UDF sees
    # the double-cast vector — float->double is exact, same centroid
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _cast_double(F.col(vec_col)).alias("_cv"),
    ).withColumn("_cn", _norm(F.col("_cv"))).withColumn(
        # asNondeterministic: the join on _cid infers an IS NOT NULL that
        # would otherwise duplicate the corpus-wide assign matmul (legal
        # here — Project call site; the explode() use below must stay
        # deterministic, Generate rejects nondeterministic children)
        "_cid", F.element_at(assign1.asNondeterministic()(F.col("_cv")), 1)
    )
    qb = queries.select(
        F.col(id_col).alias(query_id_col),
        _cast_double(F.col(vec_col)).alias("_qv"),
    ).withColumn("_qn", _norm(F.col("_qv"))).select(
        query_id_col, "_qv", "_qn",
        F.explode(assignp(F.col("_qv"))).alias("_cid"),
    )
    # unlike the brute/LSH top-k, a big query set is SUPPORTED here: fall
    # back to a plain shuffle equi-join on centroid id when the query table
    # is too large to broadcast (bounded probe, no collect either way)
    q_small = queries.limit(1_000_001).count() <= 1_000_000
    cand = cb.join(F.broadcast(qb) if q_small else qb, on="_cid").where(
        F.col("neighbor_id") != F.col(query_id_col)
    )
    cand = cand.withColumn(
        "cos",
        _cosine_pre(F.col("_qv"), F.col("_qn"), F.col("_cv"), F.col("_cn")),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank", "cos")
    )


# --- PQ (product quantization) ANN ----------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 256,
    sample_size: int = 10000,
    n_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """Per-subspace k-means codebooks: (m, n_codes, dim/m) float64.

    Trained on the same bounded deterministic sample protocol as
    :func:`train_ivf_centroids` (lowest-id rows — stable under any
    partitioning); vectors are L2-normalized first so PQ approximates the
    UNIT vector and summed sub-dots approximate cosine directly.
    """
    if dim % m:
        raise ValueError("dim must be divisible by m")
    sub = dim // m
    rows = (
        corpus.select(id_col, vec_col)
        .where(F.col(vec_col).isNotNull())
        .orderBy(F.col(id_col))
        .limit(sample_size).collect()
    )
    X = np.zeros((len(rows), dim), dtype=np.float64)
    for i, r in enumerate(rows):
        a = np.asarray(r[vec_col], dtype=np.float64)
        X[i, : min(len(a), dim)] = a[:dim]
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    books = np.zeros((m, n_codes, sub), dtype=np.float64)
    for j in range(m):
        Xi = X[:, j * sub : (j + 1) * sub]
        kk = min(n_codes, len(Xi))
        C = Xi[rng.choice(len(Xi), size=kk, replace=False)].copy()
        for _ in range(n_iter):
            d2 = ((Xi[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(kk):
                members = Xi[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j, :kk] = C
        if kk < n_codes:
            books[j, kk:] = C[0]  # pad (never the argmin winner twice)
    return books


def with_pq_codes(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode vectors to m uint8-range codes (array<int>): per subspace,
    the nearest codebook row of the L2-normalized vector. One matmul per
    (batch, subspace) — 100 TB of float embeddings become m bytes/vector."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, sub = books.shape
    dim = m * sub
    norms2 = (books**2).sum(axis=2)  # (m, n_codes)

    @pyworker.pandas_udf(ArrayType(LongType()))
    def _encode(v: pd.Series) -> pd.Series:
        n = len(v)
        X = np.zeros((n, dim), dtype=np.float64)
        null = np.zeros(n, dtype=bool)
        for i, row in enumerate(v):
            if row is None:
                null[i] = True
                continue
            a = np.asarray(row, dtype=np.float64)
            X[i, : min(len(a), dim)] = a[:dim]
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        codes = np.empty((n, m), dtype=np.int64)
        for j in range(m):
            Xi = X[:, j * sub : (j + 1) * sub]
            # argmin ||x - c||^2 = argmin (||c||^2 - 2 x.c)
            codes[:, j] = (norms2[j][None, :] - 2.0 * (Xi @ books[j].T)).argmin(1)
        return pd.Series([None if null[i] else codes[i] for i in range(n)])

    # asNondeterministic: callers filter on pq_code IS NOT NULL — without
    # the flag the optimizer pushes a copy of that filter below the
    # projection and the whole-corpus encode matmul runs TWICE (two
    # ArrowEvalPython nodes over the same scan). Pure function; the flag
    # only stops the duplication. (Safe here: always used via Project.)
    return df.withColumn(out_col, _encode.asNondeterministic()(F.col(vec_col)))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    m: int = 8,
    n_codes: int = 256,
    sample_size: int = 10000,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    codebooks: np.ndarray | None = None,
    max_queries: int = 100_000,
    pass_queries: int = 16_384,
) -> DataFrame:
    """PQ approximate top-k with asymmetric distance computation and exact
    re-ranking — the memory-bounded scale path: the scored representation
    is m bytes per corpus vector, so even corpora whose float embeddings
    dwarf cluster memory scan from compact codes.

    Plan shape (the part that matters at 100 TB):

    1. encode the corpus once (:func:`with_pq_codes`);
    2. every partition scores the pass's queries against its codes via
       (m x n_codes) lookup tables — one (query-chunk x batch) gather per
       subspace, vectorized across queries and memory-bounded by chunking
       — and emits only its LOCAL top ``k * rerank_factor`` rows per query:
       the classic partial-top-k tree, shuffle volume is partitions x
       queries x R rows, never corpus x queries;
    3. a per-query window keeps the global candidate top R;
    4. candidates join back to their float vectors for exact cosine
       re-ranking (deterministic ties by neighbor id).

    ``max_queries`` bounds the DRIVER (collected query vectors);
    ``pass_queries`` bounds each EXECUTOR broadcast: query sets larger
    than a pass are scored in bounded passes over the persisted code
    table (disjoint query ids, so the union composes exactly).
    """
    if queries.limit(max_queries + 1).count() > max_queries:
        raise ValueError(
            f"pq_topk: query table exceeds max_queries={max_queries}; "
            "the driver collects the query vectors to build LUTs."
        )
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus, dim, m, n_codes, sample_size, id_col=id_col,
            vec_col=vec_col, seed=seed,
        )
    books = np.asarray(codebooks, dtype=np.float64)
    mm, ncodes, sub = books.shape

    qids, Q = _collect_query_vectors(queries, id_col, vec_col, mm * sub)
    R = k * rerank_factor
    spark = corpus.sparkSession

    coded = with_pq_codes(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        books, vec_col, "pq_code",
    ).select("neighbor_id", "pq_code")
    # bounded query passes: each pass broadcasts ONLY its slice's LUTs
    # (pass_queries x m x n_codes float32 — ~128 MB at the defaults, vs
    # ~0.8 GB for 100k queries in one shot) and re-scans the m-byte code
    # table; passes are disjoint in query_id so the per-query top-R
    # window composes over the union unchanged. Multi-pass persists the
    # coded table so the encode UDF runs once, not once per pass.
    nq = len(qids)
    if nq > pass_queries:
        # reference-tracked materialization, NOT .persist(): checkpoint
        # blocks are reclaimed by the ContextCleaner once the caller drops
        # the result plan, so repeated large-query calls in a long-lived
        # session do not accumulate pinned cached partitions (a bare
        # persist lives in the CacheManager until an explicit unpersist
        # that a lazy-result API has no safe place to issue)
        from linref_spark.events.frame import materialize

        coded = materialize(coded)
    parts = []
    for p0 in range(0, nq, pass_queries):
        p1 = min(p0 + pass_queries, nq)
        # per-query LUT: lut[q, j, c] = dot(q_j, codebook[j][c]) — summed
        # over j this approximates cosine(q, x) for normalized x. float32:
        # halves the payload; the approx scores only pick rerank
        # CANDIDATES — the exact float64 cosine re-rank orders the output.
        lut = np.einsum(
            "qjs,jcs->qjc", Q[p0:p1].reshape(p1 - p0, mm, sub), books
        ).astype(np.float32)
        b_lut = spark.sparkContext.broadcast((qids[p0:p1], lut))
        scorer = _make_adc_scorer(b_lut, R, mm, has_cid=False)
        parts.append(coded.mapInPandas(pyworker.pandas_fn(scorer), _ADC_PARTIAL_SCHEMA))
    if not parts:  # every query vector was null
        parts = [spark.createDataFrame([], _ADC_PARTIAL_SCHEMA)]
    partials = reduce(DataFrame.unionAll, parts)
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("neighbor_id").asc()
    )
    cand = partials.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= R
    ).drop("_rn", "approx")
    return _exact_rerank(cand, corpus, queries, k, id_col, vec_col, query_id_col)


def _collect_query_vectors(
    queries: DataFrame, id_col: str, vec_col: str, width: int
):
    """Driver-side (qids, normalized Q matrix) for LUT builds. Null query
    vectors are dropped like corpus-side nulls (a None embedding would
    otherwise poison the whole LUT build)."""
    qrows = (
        queries.select(id_col, vec_col)
        .where(F.col(vec_col).isNotNull())
        .collect()
    )
    qids = np.array([r[id_col] for r in qrows], dtype=np.int64)
    Q = np.zeros((len(qrows), width), dtype=np.float64)
    for i, r in enumerate(qrows):
        a = np.asarray(r[vec_col], dtype=np.float64)
        Q[i, : min(len(a), width)] = a[:width]
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    return qids, Q


_ADC_PARTIAL_SCHEMA = StructType([
    StructField("query_id", LongType()),
    StructField("neighbor_id", LongType()),
    StructField("approx", DoubleType()),
])


def _make_adc_scorer(b_state, R: int, mm: int, has_cid: bool):
    """Per-partition ADC scorer shared by pq_topk and ivfpq_topk.

    ``b_state`` broadcasts (qids, lut[, allowed]) — ``allowed`` is a
    (n_queries x n_centroids) bool matrix restricting each query to its
    probed inverted lists (None = score every row, the flat-PQ path; rows
    then must not carry a ``_cid`` column). Maintains running per-query
    top-R tables fully array-form and emits one partial frame per
    partition: shuffle volume is partitions x queries x R, never corpus x
    queries.
    """

    def score_partition(batches):
        state = b_state.value
        qids_l, lut_l = state[0], state[1]
        allowed = state[2] if has_cid else None
        nq = len(qids_l)
        # running per-query top-R, fully array-form: (nq, R) score/id tables
        # seeded with -inf / -1 sentinels (dropped on emit)
        best_s = np.full((nq, R), -np.inf, dtype=np.float64)
        best_i = np.full((nq, R), -1, dtype=np.int64)
        # query-chunked scoring: the chunk's LUT slice (q_chunk x m x
        # n_codes float64) must stay cache-resident or every gather
        # thrashes — measured sweep: q_chunk 32-128 runs 2.6-3.4x FASTER
        # than a per-query loop, q_chunk >= 1024 up to 10x slower. 64
        # (~128 KB of LUT at n_codes=256) is the robust winner; the
        # element budget only guards degenerate giant batches.
        score_budget = 32_000_000

        for pdf in batches:
            keep = pdf["pq_code"].notna()  # null embedding -> null code: skip
            if not keep.all():
                pdf = pdf[keep]
            if not len(pdf):
                continue
            ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            codes = np.stack(pdf["pq_code"].to_numpy()).astype(np.int64)
            cids = (
                pdf["_cid"].to_numpy(dtype=np.int64) if has_cid else None
            )
            n = len(ids)
            q_chunk = max(1, min(64, score_budget // max(n, 1)))
            for q0 in range(0, nq, q_chunk):
                q1 = min(q0 + q_chunk, nq)
                # S[q, i] = sum_j lut[q, j, codes[i, j]] — one (qc, n)
                # gather per subspace, all queries of the chunk at once
                S = lut_l[q0:q1, 0, codes[:, 0]]
                for j in range(1, mm):
                    S = S + lut_l[q0:q1, j, codes[:, j]]
                # self-match mask (query scoring itself)
                S = np.where(
                    qids_l[q0:q1, None] == ids[None, :], -np.inf, S
                )
                if allowed is not None:
                    # probe-routing mask: a row only competes for queries
                    # whose probed lists include its centroid
                    S = np.where(allowed[q0:q1][:, cids], S, -np.inf)
                cat_s = np.concatenate([best_s[q0:q1], S], axis=1)
                cat_i = np.concatenate(
                    [best_i[q0:q1], np.broadcast_to(ids, (q1 - q0, n))], axis=1
                )
                part = np.argpartition(-cat_s, R - 1, axis=1)[:, :R]
                best_s[q0:q1] = np.take_along_axis(cat_s, part, axis=1)
                best_i[q0:q1] = np.take_along_axis(cat_i, part, axis=1)

        # drop sentinels AND masked entries: a self-match / unprobed-list
        # row carries a real id with a -inf score, and when R exceeds a
        # partition's unmasked candidate count argpartition can keep it —
        # emitting it would let the exact re-rank resurrect a pair the
        # mask excluded
        valid = (best_i >= 0) & np.isfinite(best_s)
        qcol = np.broadcast_to(qids_l[:, None], (nq, R))[valid]
        yield pd.DataFrame(
            {
                "query_id": qcol,
                "neighbor_id": best_i[valid],
                "approx": best_s[valid],
            }
        )

    return score_partition


def _exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Join candidate (query_id, neighbor_id) pairs back to their float
    vectors and keep the exact-cosine top ``k`` (deterministic ties by
    neighbor id). Shared tail of the PQ-coded serving paths."""
    # cast + norm hoisted per row (see _cosine_pre)
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _cast_double(F.col(vec_col)).alias("_cv"),
    ).withColumn("_cn", _norm(F.col("_cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _cast_double(F.col(vec_col)).alias("_qv"),
    ).withColumn("_qn", _norm(F.col("_qv")))
    scored = cand.join(vecs, on="neighbor_id").join(F.broadcast(q), on="query_id")
    scored = scored.withColumn(
        "cos",
        _cosine_pre(F.col("_qv"), F.col("_qn"), F.col("_cv"), F.col("_cn")),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            F.col("query_id").alias(query_id_col), "neighbor_id", "rank", "cos"
        )
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 64,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 256,
    sample_size: int = 10000,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    max_queries: int = 100_000,
    pass_queries: int = 16_384,
) -> DataFrame:
    """IVF x PQ — the canonical 100 TB ANN serving plan: IVF inverted lists
    bound WHICH corpus rows each query touches (~n_probe/n_centroids of the
    corpus), PQ codes bound WHAT is read per touched row (m bytes instead
    of the float vector), and an exact re-rank over the surviving
    ``k * rerank_factor`` candidates restores float precision.

    Plan shape: one encode pass (centroid id + PQ code per corpus row),
    then the SAME per-partition partial-top-R scan as :func:`pq_topk` with
    a broadcast probe-membership mask — a row only competes for queries
    whose probed lists include its centroid, so no routed-candidate join
    is ever materialized (an equi-join form ships corpus x n_probe /
    n_centroids x queries rows through Arrow; the masked scan ships
    partitions x queries x R). A per-query top-R window then
    :func:`_exact_rerank`. With ``n_probe = n_centroids`` every list is
    probed and the result equals brute force exactly.

    Pass ``centroids`` / ``codebooks`` to reuse trained quantizers; both
    train on bounded deterministic samples otherwise. ``max_queries``
    bounds the DRIVER (collected query vectors); ``pass_queries`` bounds
    each EXECUTOR broadcast — larger query sets score in bounded passes
    over the persisted coded table (see :func:`pq_topk`).
    """
    _guard_query_broadcast(queries, max_queries, "ivfpq_topk")
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, dim, n_centroids, sample_size, id_col=id_col,
            vec_col=vec_col, seed=seed,
        )
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus, dim, m, n_codes, sample_size, id_col=id_col,
            vec_col=vec_col, seed=seed,
        )
    books = np.asarray(codebooks, dtype=np.float64)
    mm, ncodes, sub = books.shape
    C = np.asarray(centroids, dtype=np.float64)
    n_cent = C.shape[0]
    n_probe = min(n_probe, n_cent)

    # driver-side per-query LUTs + probe sets (bounded by max_queries);
    # null query vectors dropped up front (np.asarray(None) is a 0-d
    # array that would crash the LUT build), float32 LUT halves the
    # broadcast — exact re-rank orders the output regardless
    qids, Q = _collect_query_vectors(queries, id_col, vec_col, mm * sub)
    # probe routing: same math as make_ivf_assign_udf (normalized query
    # dot raw centroid rows)
    sims = Q @ C.T
    if len(qids):
        part = np.argpartition(-sims, n_probe - 1, axis=1)[:, :n_probe]
    else:
        part = np.zeros((0, n_probe), dtype=np.int64)
    allowed = np.zeros((len(qids), n_cent), dtype=bool)
    allowed[np.arange(len(qids))[:, None], part] = True
    spark = corpus.sparkSession

    # asNondeterministic on the assign call: the notNull filter below
    # otherwise duplicates BOTH corpus-wide matmuls (encode is flagged in
    # with_pq_codes; this is a Project call site, so the flag is legal —
    # the explode() uses elsewhere must stay deterministic, Generate
    # rejects nondeterministic children)
    assign1 = make_ivf_assign_udf(centroids, 1).asNondeterministic()
    coded = with_pq_codes(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        books, vec_col, "pq_code",
    ).withColumn("_cid", F.element_at(assign1(F.col(vec_col)), 1)).select(
        "neighbor_id", "_cid", "pq_code"
    ).where(F.col("pq_code").isNotNull() & F.col("_cid").isNotNull())

    R = k * rerank_factor
    # bounded query passes — same composition as pq_topk (disjoint query
    # ids per pass; the per-query window over the union is exact)
    nq = len(qids)
    if nq > pass_queries:
        # materialize, not persist — see pq_topk (ContextCleaner-reclaimed)
        from linref_spark.events.frame import materialize

        coded = materialize(coded)
    parts = []
    for p0 in range(0, nq, pass_queries):
        p1 = min(p0 + pass_queries, nq)
        lut = np.einsum(
            "qjs,jcs->qjc", Q[p0:p1].reshape(p1 - p0, mm, sub), books
        ).astype(np.float32)
        b_state = spark.sparkContext.broadcast(
            (qids[p0:p1], lut, allowed[p0:p1])
        )
        scorer = _make_adc_scorer(b_state, R, mm, has_cid=True)
        parts.append(coded.mapInPandas(pyworker.pandas_fn(scorer), _ADC_PARTIAL_SCHEMA))
    if not parts:  # every query vector was null
        parts = [spark.createDataFrame([], _ADC_PARTIAL_SCHEMA)]
    partials = reduce(DataFrame.unionAll, parts)
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("neighbor_id").asc()
    )
    topr = partials.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= R
    ).select("query_id", "neighbor_id")
    return _exact_rerank(topr, corpus, queries, k, id_col, vec_col, query_id_col)
