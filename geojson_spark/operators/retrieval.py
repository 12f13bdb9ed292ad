"""Full-text BM25 top-k retrieval — integer-exact, pure built-in Columns.

A training-data pipeline needs corpus-level retrieval (nearest documents to
a query) alongside embedding ANN; classic BM25 is the lexical baseline. The
standard formulation uses ``ln`` in the idf term, which is NOT reproducible
across engines (libm vs JVM log differ in ULPs and no SQL oracle could
replay it bit-exactly — see CLAUDE.md's oracle rules). This module
implements **rational-idf BM25**: the idf is the log's *argument* kept as
an exact rational, every factor is scaled to integers, and both divisions
are integer divisions — so Spark and any SQL engine produce bit-identical
BIGINT scores, and the ranking is deterministic (score desc, doc_id asc).

Scoring (k1 = 6/5, b = 3/4 — the standard 1.2/0.75 as exact rationals):

    idf_milli(w)     = (1000 * (2N - 2·df + 1)) div (2·df + 1)
    tnorm_milli(d,w) = (1000 * 22 * T * tf) div (10*T*tf + 3*T + 9*dl*N)
    score(q,d)       = Σ_{w ∈ q} idf_milli(w) * tnorm_milli(d,w)

where N = corpus doc count, T = Σ doc lengths (so avgdl = T/N is never
materialized as a float: tf_norm = tf·(k1+1) / (tf + k1(1−b) + k1·b·dl/avgdl)
multiplied through by 10·T gives the all-integer form above). With BIGINT
arithmetic this holds to ~10^8 docs × 10^3 tokens without overflow.

Scale notes (100 TB): one scan of the corpus; the explode is pruned to
query terms by a broadcast join BEFORE the (doc, term) aggregation, so the
only large shuffle carries (doc_id, term, tf) rows for matching terms only;
corpus stats ride a broadcast 1-row crossJoin (no driver collect); top-k is
one window over ≤ |terms|·matching-docs rows partitioned by query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# the ONE engine-wide tokenizer (explicit Java-\s ≡ RE2 class) — shared
# with repetition_stats/shingles so the oracle whitespace contract can't
# drift between operators
from geojson_spark.functions.spark_funcs import words as _words


def bm25_corpus_stats(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    pre_sized: bool = False,
) -> DataFrame:
    """1-row (n_corpus, t_corpus) corpus-statistics dim for ``bm25_topk``.

    Compute once per corpus and pass via ``corpus_stats=`` when scoring
    many query batches — the per-call tokenize+persist disappears. With
    ``pre_sized`` the input is already a (doc_id, dl, …) projection."""
    sized = (
        docs
        if pre_sized
        else docs.select(
            F.size(_words(F.coalesce(F.col(text_col), F.lit(""))))
            .cast("bigint")
            .alias("dl")
        )
    )
    return sized.agg(
        F.count("*").cast("bigint").alias("n_corpus"),
        F.sum("dl").cast("bigint").alias("t_corpus"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: DataFrame,
    k: int = 5,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    q_id: str = "q_id",
    term_col: str = "term",
    corpus_stats: DataFrame | None = None,
    pre_rank_salts: int = 32,
) -> DataFrame:
    """Top-``k`` documents per query under rational-idf BM25.

    ``query_terms`` is a (q_id, term) table — small by construction (it is
    broadcast twice: to prune postings and to fan term scores out to
    queries). Returns (q_id, doc_id, score, rn) with BIGINT score and
    rn = 1..k ranked by (score desc, doc_id asc). Documents matching no
    query term never appear (score 0 rows are not emitted), matching the
    oracle's inner-join semantics.

    Corpus stats (N docs, Σ dl) need every doc — including non-matching
    ones — so they cannot ride the pruned postings aggregation. Rather
    than tokenizing the corpus twice, the tokenized projection is
    persisted (MEMORY_AND_DISK, spills instead of OOM) across its two
    consumers — one tokenize, not two. In that self-managed mode the
    bounded result (≤ |queries|·k rows) is materialized EAGERLY via
    ``localCheckpoint`` and the corpus-wide persist is released before
    returning — so repeated calls leave no corpus-sized storage behind;
    the tiny checkpoint blocks backing each returned frame are reclaimed
    by the ContextCleaner when the frame is GC'd, the same discipline as
    the eager localCheckpoint of ``knn_join``'s top-k on its Spark path
    (query sides over 2048 rows). Note this makes the call itself
    run the corpus job. Serving workloads that score many query batches should
    pass ``corpus_stats=bm25_corpus_stats(docs)`` computed once, which
    skips the persist (and the eager materialization) entirely.

    The final rank is two-stage: top-k per (query, salt-of-doc) first,
    then the global per-query window sees at most ``pre_rank_salts``·k
    rows per query — with few queries and many matching docs a single
    global window would serialize on |queries| reducers at scale.
    """
    terms = query_terms.select(F.col(term_col).alias("w")).distinct()
    # null text coalesces to '' so dl is 0 — NOT F.size(NULL) = -1, which
    # would silently subtract from t_corpus while a SQL oracle's sum(dl)
    # skips NULLs (every score would then diverge on a corpus with nulls)
    sized = docs.select(
        F.col(id_col).alias("doc_id"),
        _words(F.coalesce(F.col(text_col), F.lit(""))).alias("ws"),
    ).select("doc_id", F.size("ws").cast("bigint").alias("dl"), "ws")

    # corpus stats as a broadcast 1-row dim — no driver round-trip
    own_persist = corpus_stats is None
    if own_persist:
        from pyspark import StorageLevel

        sized = sized.persist(StorageLevel.MEMORY_AND_DISK)
        stats = bm25_corpus_stats(sized, pre_sized=True)
    else:
        stats = corpus_stats

    # postings pruned to query terms BEFORE the (doc, term) aggregation:
    # the broadcast hash join drops non-query words at the scan stage, so
    # the one real shuffle carries only matching (doc_id, w) keys
    tf = (
        sized.select("doc_id", "dl", F.explode("ws").alias("w"))
        .join(F.broadcast(terms), "w")
        .groupBy("doc_id", "dl", "w")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count("*").cast("bigint").alias("df"))

    term_scores = (
        tf.join(F.broadcast(dfreq), "w")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "w",
            (
                F.expr("(1000 * (2*n_corpus - 2*df + 1)) div (2*df + 1)")
                * F.expr(
                    "(1000 * 22 * t_corpus * tf)"
                    " div (10*t_corpus*tf + 3*t_corpus + 9*dl*n_corpus)"
                )
            ).alias("sc"),
        )
    )
    scores = (
        term_scores.join(
            F.broadcast(query_terms.select(q_id, F.col(term_col).alias("w"))), "w"
        )
        .groupBy(q_id, "doc_id")
        .agg(F.sum("sc").cast("bigint").alias("score"))
    )
    # bounded pre-reduce: top-k within each (query, salt) group before the
    # global per-query rank, so no reducer ever sorts more than
    # pre_rank_salts·k candidate rows per query (a row in the global top-k
    # is necessarily in its salt group's top-k — the two-stage result is
    # identical by construction)
    order = (F.col("score").desc(), F.col("doc_id").asc())
    w_pre = Window.partitionBy(q_id, "_s").orderBy(*order)
    pre = (
        scores.withColumn(
            "_s", F.pmod(F.xxhash64("doc_id"), F.lit(pre_rank_salts))
        )
        .withColumn("_prn", F.row_number().over(w_pre))
        .where(F.col("_prn") <= k)
        .drop("_s", "_prn")
    )
    w = Window.partitionBy(q_id).orderBy(*order)
    out = (
        pre.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(q_id, "doc_id", "score", F.col("rn").cast("int").alias("rn"))
    )
    if own_persist:
        try:
            # materialize the bounded result (≤ |queries|·k rows), then
            # release the corpus-wide tokenized persist — no storage left
            out = out.localCheckpoint(eager=True)
        finally:
            sized.unpersist()
    return out
