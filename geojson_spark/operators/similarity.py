"""Approximate-nearest-neighbor search over an embedding column.

Two paths (training-pipeline requirement):
- ``cosine_topk_bruteforce`` — exact baseline: broadcast the (small) query
  set, score every (query, vector) pair with pure JVM Column arithmetic
  (zip_with dot + pre-computed norms — no Python boundary), window re-rank.
  One shuffle (the window).
- ``ivf_topk`` — scale path: k-means-lite IVF. Centroids are trained on a
  sample (driver-side NumPy, few MB), broadcast; every vector is assigned to
  its nearest centroid (one column of int); queries probe ``n_probe``
  nearest centroids, so the scoring join touches ~n_probe/n_centroids of
  the table instead of all of it. Recall measured in tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType
from pyspark.sql.window import Window

from geojson_spark.functions.spark_funcs import ensure_min_partitions


def _dot_col(a, b):
    """Exact JVM-side dot product over two array<double> Columns: one
    ``zip_with`` product + one ``aggregate`` fold — each input array is
    referenced exactly once (Catalyst inlines Column subtrees at every
    reference, so sharing matters; see CLAUDE.md)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm2_col(a):
    """Σ x² as one ``aggregate`` fold (array referenced once)."""
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)


def _cosine_col(num, qn2, vn2):
    """cosine = dot/sqrt(na·nb), 0 when den = 0 — the same one-multiply +
    sqrt + divide derivation the DuckDB oracle replays (``_COS_SQL``) and
    the Gram kernel in :func:`cosine_pairs_blocked` uses. Over
    integer-valued (quantized) components every sum is exact (< 2^53), so
    the value is bit-identical across engines and accumulation orders.
    A NULL norm (null element inside a vector) propagates as a NULL
    cosine — NOT 0.0 — so callers can drop malformed vectors instead of
    ranking them as orthogonal."""
    den = F.sqrt(qn2 * vn2)
    return F.when(den > F.lit(0.0), num / den).when(
        den.isNotNull(), F.lit(0.0)
    )


def cosine_topk_bruteforce(
    queries: DataFrame,
    vectors: DataFrame,
    k: int,
    *,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    v_id: str = "vec_id",
    v_vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (q_id, vec_id, cosine, rank). Queries broadcast.
    Null embeddings are dropped (they cannot score); the vectors side is
    spread to default parallelism so small-parquet inputs still score on
    every core.

    The cosine is pure JVM Column arithmetic — norms are computed ONCE per
    side *before* the broadcast crossJoin (so the k-way pair fan-out only
    pays one zip_with dot per pair, never a norm), and no vector ever
    crosses the JVM↔Python boundary. Round-3's pandas kernel shipped both
    full quantized vectors through Arrow for every pair row — 8× the table
    bytes for 8 queries — and benched 6× slower; same derivation
    (dot/sqrt(na·nb)), bit-identical on quantized inputs."""
    vd = F.col(v_vec).cast("array<double>")
    qd = F.col(q_vec).cast("array<double>")
    vecs = ensure_min_partitions(
        vectors.select(v_id, v_vec).where(F.col(v_vec).isNotNull())
    ).withColumn("_vn2", _norm2_col(vd))
    qs = (
        queries.select(q_id, q_vec)
        .where(F.col(q_vec).isNotNull())
        .withColumn("_qn2", _norm2_col(qd))
    )
    cand = F.broadcast(qs).crossJoin(vecs)
    scored = cand.withColumn(
        "cosine", _cosine_col(_dot_col(qd, vd), F.col("_qn2"), F.col("_vn2"))
    )
    # ragged/null-element vectors fold to a NULL cosine under zip_with
    # padding (where the old pandas kernel's np.stack raised) — drop them
    # so malformed rows can never fill ranks when valid candidates run out
    scored = scored.where(F.col("cosine").isNotNull())
    w = Window.partitionBy(q_id).orderBy(F.col("cosine").desc(), F.col(v_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, v_id, "cosine", "rank")
    )


def train_centroids(
    vectors: DataFrame, n_centroids: int = 16, *, v_vec: str = "embedding",
    sample: int = 2048, iters: int = 10, seed: int = 42,
) -> np.ndarray:
    """k-means on a driver-side sample (Lloyd's, NumPy). Returns (C, dim).

    The sample is a uniform ``.sample()`` over the whole table with NO
    ``limit()`` anywhere — a limit takes the first partitions, which on
    time/key-ordered parquet trains centroids on a biased slice of the
    distribution (the expected sample size is ~1.1·``sample``; bounded,
    so the driver-side k-means stays cheap). ``n_centroids`` clamps to
    the sample size; an empty table raises."""
    n = vectors.count()
    src = vectors.select(v_vec).where(F.col(v_vec).isNotNull())
    frac = min(1.0, 1.1 * sample / max(n, 1))
    if frac < 1.0:
        src = src.sample(False, frac, seed=seed)
    pdf = src.toPandas()
    if len(pdf) == 0:
        raise ValueError("train_centroids: vectors table has no non-null embeddings")
    n_centroids = min(n_centroids, len(pdf))
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[v_vec]])
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), n_centroids, replace=False)]
    for _ in range(iters):
        sims = X @ C.T
        assign = sims.argmax(axis=1)
        for c in range(n_centroids):
            m = assign == c
            if m.any():
                v = X[m].mean(axis=0)
                C[c] = v / max(np.linalg.norm(v), 1e-12)
    return C


def _assign_udf(centroids: np.ndarray, top: int = 1):
    # capture the float64 matrix directly (ndarrays pickle fine); rebuilding
    # it from nested lists per Arrow batch wasted work on the hot path
    Cm_const = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(ArrayType(LongType()))
    def _assign(vecs: pd.Series) -> pd.Series:
        Cm = Cm_const
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        sims = X @ Cm.T
        order = np.argsort(-sims, axis=1)[:, :top]
        return pd.Series([row.tolist() for row in order])

    return _assign


def ivf_topk(
    queries: DataFrame,
    vectors: DataFrame,
    k: int,
    *,
    centroids: np.ndarray,
    n_probe: int = 4,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    v_id: str = "vec_id",
    v_vec: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: probe ``n_probe`` inverted lists per query. Null
    embeddings are dropped; the vectors side is spread so assignment and
    scoring parallelize on small inputs. Scoring is the same JVM-side
    Column cosine as :func:`cosine_topk_bruteforce` (norms pre-computed
    per side, one zip_with dot per candidate pair); only the centroid
    assignment — a dense argmax over the broadcast codebook — runs as an
    Arrow-batched pandas kernel."""
    vd = F.col(v_vec).cast("array<double>")
    qd = F.col(q_vec).cast("array<double>")
    vectors = ensure_min_partitions(vectors.where(F.col(v_vec).isNotNull()))
    v_assigned = vectors.withColumn(
        "_cl", F.element_at(_assign_udf(centroids, 1)(F.col(v_vec)), 1)
    ).withColumn("_vn2", _norm2_col(vd))
    q_assigned = queries.withColumn(
        "_cls", _assign_udf(centroids, n_probe)(F.col(q_vec))
    ).withColumn("_qn2", _norm2_col(qd))  # norm BEFORE the probe explode
    q_probes = q_assigned.select(q_id, q_vec, "_qn2", F.explode("_cls").alias("_cl"))
    cand = F.broadcast(q_probes).join(v_assigned, "_cl")
    scored = cand.withColumn(
        "cosine", _cosine_col(_dot_col(qd, vd), F.col("_qn2"), F.col("_vn2"))
    ).where(F.col("cosine").isNotNull())  # ragged vectors drop, never rank
    w = Window.partitionBy(q_id).orderBy(F.col("cosine").desc(), F.col(v_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, v_id, "cosine", "rank")
    )


def cosine_pairs_blocked(
    vectors: DataFrame,
    *,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.40,
    quantize_scale: float | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within blocking-key groups.

    Blocking (shard/source/label key) is the deterministic alternative to
    LSH bucketing (``geojson_spark.operators.dedup.embedding_dedup``).
    Implementation is ``applyInPandas`` per block: one shuffle on the block
    key, then the whole block's pairwise cosines come from a single BLAS
    matrix product (n×d @ d×n) instead of materializing n²/2 pair rows
    through a join — ~100× less data movement and flops amortized.
    Per-block memory is O(n_block²); at cluster scale blocks are
    shards/sources, bounded by construction. Returns (id_a, id_b, block),
    id_a < id_b. Numeric block keys keep their value; string keys hash to
    a deterministic long (xxhash64); rows with a null block key or null
    vector are dropped (they cannot be blocked/scored).

    ``quantize_scale`` applies the engine's shared-derivation cosine
    quantization INSIDE the kernel: ``np.round(x_f64 · scale)`` — float32
    →float64 is exact, ×2^k is exact, and np.round is banker's rounding,
    so the result is bit-identical to JVM ``bround(x · scale)`` and DuckDB
    ``round_even(x · scale, 0)``. Quantizing here instead of via an
    ``F.transform`` projection halves the bytes crossing the Arrow
    boundary (raw float32 arrays ship once, not pre-widened float64) —
    round-3 benched the projection variant 2× slower for exactly that
    reason.
    """
    from pyspark.sql.types import LongType, NumericType, StructType

    out_schema = (
        StructType().add("id_a", LongType()).add("id_b", LongType()).add("block", LongType())
    )

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col].iloc[order]])
        if quantize_scale is not None:
            V = np.round(V * quantize_scale)
        # Gram-matrix form, NOT normalize-then-multiply: cos = G/sqrt(na·nb)
        # keeps every sum a sum of raw-component products, so when callers
        # feed integer-valued (quantized) vectors the dots/norms are EXACT
        # and the final cosine is one multiply + sqrt + divide — an
        # operation sequence a SQL oracle replays bit-identically
        # (normalized rows would make each term inexact and the BLAS
        # accumulation order observable).
        G = V @ V.T
        n2 = (V * V).sum(axis=1)
        den = np.sqrt(np.outer(n2, n2))
        sims = np.divide(G, den, out=np.zeros_like(G), where=den > 0)
        iu, ju = np.triu_indices(len(ids), k=1)
        # duplicate ids inside a block must not emit id_a == id_b rows
        keep = (sims[iu, ju] >= threshold) & (ids[iu] != ids[ju])
        blk = np.int64(pdf[block_col].iloc[0])
        return pd.DataFrame(
            {"id_a": ids[iu[keep]], "id_b": ids[ju[keep]], "block": blk}
        )

    src = vectors.where(F.col(block_col).isNotNull() & F.col(vec_col).isNotNull())
    if isinstance(vectors.schema[block_col].dataType, NumericType):
        block_key = F.col(block_col).cast("long")
    else:
        block_key = F.xxhash64(F.col(block_col))
    keyed = src.select(block_key.alias(block_col), id_col, vec_col)
    return keyed.groupBy(block_col).applyInPandas(block_pairs, out_schema)
