"""Deduplication operators over a documents table (doc_id, text).

Five families, each a DataFrame → DataFrame op (SURVEY.md §2.8 /
training-pipeline requirements):

- exact_dedup            md5 hash-groupBy (SQL-oracle-reproducible)
- minhash_lsh_dedup      shingle → MinHash → band → bucket equi-join →
                         exact-Jaccard verify (the classic LSH pipeline;
                         candidate generation never crossJoins)
- simhash_dedup          64-bit SimHash, bucketed by 4×16-bit chunks
                         (Hamming ≤ 3 ⇒ at least one chunk equal)
- ngram_jaccard_dedup    exact Jaccard over word shingles on LSH candidates
- embedding_dedup        cosine near-dup over an embedding column via
                         random-hyperplane LSH buckets + exact verify

Shuffle discipline: every candidate generator is an equi-join on a computed
key (bands / chunks / hyperplane signs); pair verification is Arrow-batched;
results are pairs (a < b) plus a keep/drop assignment by min-id union-find
within connected pairs (one extra shuffle, associative).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, DoubleType, LongType

from geojson_spark.functions import text as T
from geojson_spark.functions.spark_funcs import ensure_min_partitions


def assign_keepers(pairs: DataFrame, *, max_iters: int = 20) -> DataFrame:
    """Connected-components keeper assignment over near-dup pairs.

    (id_a, id_b) edges → (doc_id, keeper_id) where keeper is the minimum id
    in each connected component. Iterative min-label propagation: each round
    is two shuffles (groupBy min over both directions); rounds = component
    diameter (≤ log n after path-halving via keeper chaining). Converges
    when no label changes — each round runs exactly ONE driver action (a
    full-scan ``max(changed)`` that doubles as the lineage-truncating
    checkpoint materialization), bounded by ``max_iters``.

    Cache discipline: the symmetrized edge list is cached for the loop and
    unpersisted before returning, so repeated calls in a long-lived session
    don't accumulate blocks. The per-round ``localCheckpoint`` truncates
    plan lineage but is NOT fault-tolerant to executor loss on a real
    cluster — for multi-hour jobs swap in a reliable ``checkpoint()`` dir.
    """
    edges = pairs.select(
        F.col("id_a").cast("long").alias("a"), F.col("id_b").cast("long").alias("b")
    )
    # cache the (tiny) edge list: every propagation round references it, and
    # without the cache Spark re-runs the caller's whole candidate pipeline
    # (LSH/shingle joins) once per iteration
    both = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).cache()
    labels = both.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("lbl")).select(
        F.col("a").alias("id"), F.when(F.col("lbl") < F.col("a"), F.col("lbl"))
        .otherwise(F.col("a")).alias("keeper_id")
    )
    try:
        labels = _propagate_keepers(both, labels, max_iters)
    finally:
        both.unpersist()
    return labels.select(F.col("id").alias("doc_id"), "keeper_id")


def _propagate_keepers(both: DataFrame, labels: DataFrame, max_iters: int) -> DataFrame:
    for _ in range(max_iters):
        # propagate: my keeper ← min(my keeper, keeper of my keeper); carry
        # the pre-round keeper along so convergence is visible in the row
        # itself — the former probe re-JOINED new labels against old labels
        # (a shuffle join per round) just to ask "did anything change"
        chained = labels.alias("x").join(
            labels.select(F.col("id").alias("keeper_id"), F.col("keeper_id").alias("k2")).alias("y"),
            "keeper_id",
            "left",
        ).select(
            F.col("x.id").alias("id"),
            F.col("x.keeper_id").alias("_prev"),
            F.least(F.col("keeper_id"), F.coalesce(F.col("k2"), F.col("keeper_id"))).alias(
                "keeper_id"
            ),
        )
        # also pull neighbor minima through the edges
        nbr = both.join(labels.withColumnRenamed("id", "b"), "b").groupBy("a").agg(
            F.min("keeper_id").alias("nk")
        )
        new = chained.join(nbr.withColumnRenamed("a", "id"), "id", "left").select(
            "id",
            F.least(F.col("keeper_id"), F.coalesce(F.col("nk"), F.col("keeper_id"))).alias("keeper_id"),
            "_prev",
        ).withColumn("_chg", F.col("keeper_id") != F.col("_prev")).drop("_prev")
        # truncate lineage each round: an iterative plan otherwise nests one
        # level of joins per iteration and long chains (graph diameter)
        # exhaust execution memory on plan machinery alone. LAZY checkpoint:
        # the full-scan max(_chg) aggregate below is the round's ONE driver
        # action — it materializes every checkpoint partition (a full scan,
        # never a limit, which could leave partitions uncomputed behind the
        # truncated lineage) and answers convergence in the same job.
        new = new.localCheckpoint(eager=False)
        changed = new.agg(F.max("_chg")).first()[0]
        labels = new.drop("_chg")
        if not changed:
            break
    return labels


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: groups by md5(text); keeps min id per group.

    Returns (text_hash, keeper_id, dup_count) — pure built-ins, one shuffle.
    """
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("dup_count"))
    )


def _minhash_udf(n_hashes: int, k: int):
    @F.pandas_udf(ArrayType(LongType()))
    def _mh(texts: pd.Series) -> pd.Series:
        sigs = T.minhash_signatures_batch(list(texts), n_hashes, k)
        return pd.Series(list(sigs))

    return _mh


def _bands_udf(n_bands: int):
    @F.pandas_udf(ArrayType(LongType()))
    def _bd(sigs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(s, dtype=np.int64) for s in sigs])
        return pd.Series(list(T.minhash_bands_batch(mat, n_bands)))

    return _bd


def minhash_lsh_candidates(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    n_bands: int = 16,
    k_shingle: int = 5,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing ≥1 LSH band bucket.

    Only (id, band_key) rows enter the self-join — document text never
    crosses a shuffle (at web scale the band join moves ids, not payloads).
    """
    sigs = ensure_min_partitions(docs).select(
        F.col(id_col).alias("id"),
        _bands_udf(n_bands)(_minhash_udf(n_hashes, k_shingle)(F.col(text_col))).alias("bands"),
    )
    exploded = sigs.select("id", F.explode("bands").alias("band_key"))
    a = exploded.alias("a")
    # shuffle join so the signature UDF subtree is computed once via
    # ReusedExchange instead of once per broadcast side
    b = exploded.alias("b").hint("shuffle_hash")
    return (
        a.join(b, "band_key")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n_hashes: int = 64,
    n_bands: int = 16,
    k_shingle: int = 5,
) -> DataFrame:
    """Near-dup pairs with exact Jaccard ≥ threshold: (id_a, id_b, jaccard).

    Exact verification is JVM-side: candidate id pairs join back the
    distinct-shingle arrays (lowercased k-word shingles, same set
    ``minhash_signature`` hashes) and Jaccard = |∩| / |∪| via
    ``array_intersect`` — no per-pair Python, whole-stage codegen.
    """
    pairs = minhash_lsh_candidates(
        docs, id_col=id_col, text_col=text_col, n_hashes=n_hashes,
        n_bands=n_bands, k_shingle=k_shingle,
    )
    low = docs.withColumn(text_col, F.lower(F.col(text_col)))
    sized = _shingle_sets(low, id_col, text_col, k_shingle).withColumn("n", F.size("sh"))
    verified = (
        pairs.join(
            sized.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n").alias("n_a")),
            "id_a",
        )
        .join(
            sized.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n").alias("n_b")),
            "id_b",
        )
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / F.greatest(F.lit(1), F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


ngram_jaccard_dedup = minhash_lsh_dedup  # same pipeline; exact verify is n-gram Jaccard


def _shingle_sets(docs: DataFrame, id_col: str, text_col: str, k: int):
    """(id, sh) where sh = distinct k-word shingle strings — pure Column ops
    (split/slice/zip_with), no UDF, so the whole set-similarity join stays
    inside whole-stage codegen.

    Shingles are built by zip_with over k shifted slices rather than
    transform+element_at: Catalyst inlines the ``words`` subexpression at
    every reference, so the element_at form re-ran the regex split k times
    PER SHINGLE (~20× slower end-to-end); slices reference ``words`` only k
    times per row.

    Null text coalesces to '' — a null doc gets the same single ''
    shingle an empty doc gets, matching the DuckDB oracles'
    ``coalesce(array_to_string(words, ' '), '')`` derivation. Without the
    coalesce a null doc's ``sh`` is NULL and the row silently VANISHES
    from every downstream explode (contamination reports, set-similarity,
    minhash verify) while the oracle still counts it."""
    words = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), T.WS_SPLIT_RE),
        lambda x: x != F.lit(""),
    )
    n = F.size(words)
    m = n - (k - 1)  # number of shingles; CASE guards m >= 1 (lazy branches)
    sh = F.slice(words, 1, m)
    for j in range(1, k):
        sh = F.zip_with(sh, F.slice(words, j + 1, m), lambda x, y: F.concat_ws(" ", x, y))
    sh = F.when(n < k, F.array(F.array_join(words, " "))).otherwise(sh)
    return docs.select(F.col(id_col).alias("id"), F.array_distinct(sh).alias("sh"))


def choose_set_similarity_method(
    toks: DataFrame, *, count_budget: int = 200_000_000, scale: float = 1.0
) -> str:
    """Pick the exact set-similarity strategy from the shingle df profile.

    The count path materializes Σ df·(df−1)/2 pre-agg pair rows (one per
    co-occurrence); when that exceeds ``count_budget`` — a few boilerplate
    shingles at web scale get df in the millions, so df² dominates — the
    prefix-filtered AllPairs path is the only one that survives. The probe
    is a groupBy+sum over the flat index of ``toks``; callers probing a
    document SAMPLE of fraction f pass ``scale = 1/f²`` (each unordered
    co-occurrence survives sampling with probability f², so dividing by f²
    is the unbiased scale-up), keeping the probe O(sample) at any corpus
    size.
    """
    probe = (
        toks.select(F.explode("sh").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("df"))
        .agg(F.sum(F.col("df") * (F.col("df") - F.lit(1))).alias("pairs2"))
        .first()
    )
    pairs2 = (probe["pairs2"] or 0) / 2.0 * scale
    return "prefix" if pairs2 > count_budget else "count"


def set_similarity_join(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_milli: int = 500,
    k_shingle: int = 3,
    method: str = "auto",
    auto_count_budget: int = 200_000_000,
) -> DataFrame:
    """Exact all-pairs Jaccard join over k-word shingle sets.

    Returns (id_a, id_b, n_inter, n_union) for every pair with
    ``n_inter * 1000 >= threshold_milli * n_union`` — integer arithmetic, so
    a SQL oracle reproduces it bit-exactly.

    ``method="auto"`` (default) probes the shingle document-frequency
    distribution — one groupBy+agg over the flat (id, shingle) index — and
    picks ``"count"`` only when its candidate volume Σ df·(df−1)/2 fits
    ``auto_count_budget`` rows; otherwise ``"prefix"``. At the 100 TB
    design point a handful of boilerplate shingles (page headers, license
    blocks) make Σ df² explode, which is exactly what prefix filtering
    skips; on modest-df near-dup corpora the count path is ~20× faster.

    Two exact physical strategies, picked by ``method``:

    - ``"count"`` (default): inverted-index co-occurrence count — self-join
      the flat (id, shingle) index on the shingle, groupBy pair, count =
      exact intersection size. One equi-join + one agg, only (long, long)
      keys shuffled, never the shingle arrays. Cost ~ Σ df² over shingles:
      the right choice when document frequencies are modest (near-dup
      corpora), and ~20× faster than the prefix path here.

    - ``"prefix"``: AllPairs/PPJoin prefix filtering (Bayardo et al.
      WWW'07): each document emits only its ``|A| - ceil(t·|A|) + 1``
      *rarest* shingles (global df order) as join keys; any pair with
      Jaccard ≥ t must collide on a prefix key. Candidates are verified
      with ``array_intersect`` on the full sets. The right choice when a
      few very common shingles would make Σ df² explode (web-scale text
      with boilerplate), since the prefix skips exactly those.

    Both are pure built-ins (agg / window / equi-join / integer filter):
    no Python on the hot path and no crossJoin ever.
    """
    from pyspark.sql.window import Window

    toks = _shingle_sets(docs, id_col, text_col, k_shingle).withColumn("n", F.size("sh"))

    if method == "auto":
        n_docs = docs.count()
        # ONE bounded ~4096-doc probe sample serves both decisions (the
        # S_max bound and the df distribution come from the same, larger
        # sample — a 256-doc side sample both cost an extra scan and gave
        # the worst-case bound a thinner tail):
        # worst-case count-path volume is Σ_w df·(df−1)/2 ≤ S_max · n·(n−1)/2
        # (every one of a doc's ≤ S_max shingles shared by every pair).
        # S_max is ESTIMATED with a 2× margin — a heavy tail the sample
        # missed can still slip through, in which case the count join is
        # oversized but bounded (never a crossJoin); an n·(n−1)/2-only
        # bound would be a LOWER bound and skip the probe exactly when
        # boilerplate blows it up.
        frac = min(1.0, 4096.0 / max(n_docs, 1))
        # limit(), not sample(): a fractional sample SCANS the whole corpus
        # to keep 4096 docs (at 100 TB the probe would double the read), and
        # LocalLimit stops after ~one input split. The file-order bias is
        # acceptable for a method heuristic, and errs in safe directions:
        # correlated docs overestimate df → conservatively picks prefix;
        # corpus-wide boilerplate is in any 4096 docs by definition; a
        # missed heavy tail means an oversized-but-bounded count join
        # (exactly the sample()'s failure mode too).
        src = docs if frac >= 1.0 else docs.limit(4096)
        probe_toks = _shingle_sets(src, id_col, text_col, k_shingle).persist()
        try:
            s_max = probe_toks.select(F.max(F.size("sh")).alias("m")).first()["m"] or 1
            if n_docs * (n_docs - 1) // 2 * int(s_max) * 2 <= auto_count_budget:
                method = "count"
            else:
                # df probe over the SAME cached sample, scaled back up by
                # 1/f² — the decision costs O(sample) regardless of corpus
                # size (one metadata-cheap count + one ~4k-doc shingle pass)
                method = choose_set_similarity_method(
                    probe_toks, count_budget=auto_count_budget, scale=1.0 / (frac * frac)
                )
        finally:
            probe_toks.unpersist()

    if method == "count":
        flat = toks.select("id", "n", F.explode("sh").alias("w"))
        # force a shuffle join: both sides then hash-partition the SAME
        # subtree on w and Catalyst's ReusedExchange computes the shingle
        # expansion once, where a broadcast side would recompute it AND
        # pay the broadcast build of the whole flat index
        pair_counts = (
            flat.alias("a")
            .join(flat.alias("b").hint("shuffle_hash"), "w")
            .where(F.col("a.id") < F.col("b.id"))
            .groupBy(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.n").alias("n_a"),
                F.col("b.n").alias("n_b"),
            )
            .agg(F.count("*").alias("n_inter"))
        )
        return (
            pair_counts.withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            .where(F.col("n_inter") * 1000 >= F.lit(threshold_milli) * F.col("n_union"))
            .select("id_a", "id_b", "n_inter", "n_union")
        )
    if method != "prefix":
        raise ValueError(f"unknown method {method!r}")
    flat = toks.select("id", "n", F.explode("sh").alias("w"))
    dfreq = flat.groupBy("w").agg(F.count("*").alias("df"))
    # prefix length = n - ceil(t*n) + 1, all-integer: ceil(a/b) = (a+b-1)//b
    prefix_len = F.col("n") - F.floor(
        (F.lit(threshold_milli) * F.col("n") + 999) / 1000
    ).cast("int") + 1
    ranked = (
        flat.join(dfreq, "w")
        .withColumn(
            "pos", F.row_number().over(Window.partitionBy("id").orderBy("df", "w"))
        )
        .where(F.col("pos") <= prefix_len)
        .select("id", "w")
    )
    cand = (
        ranked.alias("a")
        .join(ranked.alias("b"), "w")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sized = toks.select("id", "sh", "n")
    verified = (
        cand.join(sized.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n").alias("n_a")), "id_a")
        .join(sized.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n").alias("n_b")), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        .where(F.col("n_inter") * 1000 >= F.lit(threshold_milli) * F.col("n_union"))
    )
    return verified.select("id_a", "id_b", "n_inter", "n_union")


def hamming_pairs(
    hashed: DataFrame,
    *,
    id_col: str = "id",
    hash_col: str = "hash",
    max_hamming: int = 3,
) -> DataFrame:
    """All pairs of 64-bit hashes within Hamming distance ``max_hamming``.

    Pigeonhole bucketing: the 64 bits split into ``max_hamming + 1``
    contiguous chunks — any pair with ≤ max_hamming differing bits must
    share at least one exact chunk, so candidates come from chunk
    equi-joins, never a crossJoin. Verification is JVM ``bit_count(xor)``;
    the whole operator is pure Column ops. Returns (id_a, id_b, hamming).
    """
    n_chunks = max_hamming + 1
    bounds = [round(i * 64 / n_chunks) for i in range(n_chunks + 1)]
    keyed = hashed.select(F.col(id_col).alias("id"), F.col(hash_col).alias("h"))
    chunk_structs = []
    for i in range(n_chunks):
        lo, width = bounds[i], bounds[i + 1] - bounds[i]
        shifted = F.shiftrightunsigned(F.col("h"), lo)
        # width == 64 (max_hamming=0: one full-hash chunk) needs no mask —
        # and (1 << 64) - 1 would overflow F.lit's signed-long conversion
        chunk = (
            shifted if width >= 64 else shifted.bitwiseAND(F.lit((1 << width) - 1))
        )
        chunk_structs.append(
            F.struct(F.lit(i).alias("chunk_no"), chunk.alias("chunk"))
        )
    chunks = keyed.select(
        "id", "h", F.explode(F.array(*chunk_structs)).alias("c")
    ).select("id", "h", "c.chunk_no", "c.chunk")
    a = chunks.alias("a")
    b = chunks.alias("b").hint("shuffle_hash")  # reuse, not broadcast+recompute
    cand = (
        a.join(b, ["chunk_no", "chunk"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.h").alias("h_a"),
            F.col("b.h").alias("h_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("bigint")
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ max_hamming): 64-bit SimHash over
    word unigrams+bigrams, then ``hamming_pairs`` pigeonhole join."""

    @F.pandas_udf(LongType())
    def _sh(texts: pd.Series) -> pd.Series:
        return pd.Series([T.simhash64(t or "") for t in texts])

    hashed = ensure_min_partitions(docs).select(
        F.col(id_col).alias("id"), _sh(F.col(text_col)).alias("simhash")
    )
    return hamming_pairs(hashed, id_col="id", hash_col="simhash", max_hamming=max_hamming)


def phash_near_dups(
    images: DataFrame,
    *,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 6,
) -> DataFrame:
    """Perceptual-hash near-dup pairs over the image+caption table
    (north-rule input_hint schema): the stored 64-bit pHash goes straight
    through the pigeonhole Hamming join — no pixel decode on the join
    path, so this runs at catalog speed on 10^12 rows."""
    return hamming_pairs(
        images.select(id_col, phash_col),
        id_col=id_col,
        hash_col=phash_col,
        max_hamming=max_hamming,
    )


def embedding_dedup(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 12,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Cosine near-dup pairs via random-hyperplane LSH + exact verify.

    Bucket key = sign pattern over ``n_planes`` seeded hyperplanes, emitted
    at full width and with each single bit flipped (multi-probe) so pairs up
    to ~15° apart almost surely collide; exact cosine filters the rest.
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    planes_b = [[float(v) for v in row] for row in planes]

    @F.pandas_udf(ArrayType(LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        P = np.asarray(planes_b)
        out = []
        for v in vecs:
            x = np.asarray(v, dtype=np.float64)
            signs = (P @ x > 0).astype(np.int64)
            key = int((signs << np.arange(n_planes)).sum())
            keys = [key] + [key ^ (1 << i) for i in range(n_planes)]  # multi-probe
            out.append(keys)
        return pd.Series(out)

    @F.pandas_udf(DoubleType())
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack([np.asarray(v, dtype=np.float64) for v in a])
        B = np.stack([np.asarray(v, dtype=np.float64) for v in b])
        num = (A * B).sum(axis=1)
        den = np.sqrt((A * A).sum(axis=1) * (B * B).sum(axis=1))
        return pd.Series(np.where(den > 0, num / den, 0.0))

    # Only (id, bucket) rows enter the multi-probe self-join: each id is
    # duplicated (n_planes+1)× by the probe explode, so carrying the vector
    # payload through it would multiply shuffle volume by the full probe
    # fan-out (the minhash band join avoids the same hazard — ids, not
    # payloads, cross the shuffle). Vectors re-attach to the deduplicated
    # candidate pairs afterwards via two id equi-joins. Spread first, like
    # the minhash/simhash siblings: a small-parquet table is one input
    # partition, which would run every hyperplane projection on one core.
    keyed = ensure_min_partitions(embeddings).select(
        F.col(id_col).alias("id"),
        F.explode(_buckets(F.col(vec_col))).alias("bucket"),
    )
    a = keyed.alias("a")
    # shuffle join so the bucket-UDF subtree is computed once via
    # ReusedExchange instead of once more for a broadcast build side (same
    # reason as the minhash band / Hamming chunk self-joins)
    b = keyed.alias("b").hint("shuffle_hash")
    cand = (
        a.join(b, "bucket")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    paired = cand.join(
        vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("va")), "id_a"
    ).join(vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vb")), "id_b")
    return (
        paired.withColumn("cosine", _cos(F.col("va"), F.col("vb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
