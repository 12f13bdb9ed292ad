"""Tests: dedup family, similarity search, image luma, checkpoint/resume,
streaming windows, text kernels."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geojson_spark.functions import text as T
from geojson_spark.operators.dedup import (
    embedding_dedup,
    exact_dedup,
    minhash_lsh_dedup,
    simhash_dedup,
)
from geojson_spark.operators.similarity import (
    cosine_topk_bruteforce,
    ivf_topk,
    train_centroids,
)
from geojson_spark.plans.checkpoint import CheckpointTable, resumable_apply

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF}/documents.parquet")
    # add exact and near duplicates with known ids
    rows = base.limit(20).collect()
    dup_rows = []
    for r in rows[:5]:
        dup_rows.append((10_000 + r.doc_id, r.text, r.lang, "dup", len(r.text)))
    for r in rows[5:10]:
        words = r.text.split()
        words[len(words) // 2] = "XXALTEREDXX"
        near = " ".join(words)
        dup_rows.append((20_000 + r.doc_id, near, r.lang, "near", len(near)))
    extra = spark.createDataFrame(dup_rows, base.schema)
    return base.unionByName(extra).cache()


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs).where(F.col("dup_count") > 1)
    pairs = out.collect()
    assert len(pairs) == 5
    assert all(r.keeper_id < 10_000 for r in pairs)


def test_minhash_lsh_finds_near_dups(spark, docs):
    out = minhash_lsh_dedup(docs, threshold=0.5).collect()
    found = {(r.id_a, r.id_b) for r in out}
    # the 5 exact dups must be found (jaccard 1.0) and ≥3 of the 5 near dups
    exact_expected = {(float(i), float(i + 10_000)) for i in range(5)}
    got_norm = {(float(a), float(b)) for a, b in found}
    assert exact_expected <= got_norm
    near_hits = sum(1 for a, b in found if b >= 20_000 and b - 20_000 == a)
    assert near_hits >= 3


def test_minhash_agrees_with_jaccard():
    a = "the quick brown fox jumps over the lazy dog and runs far away today"
    b = "the quick brown fox jumps over the lazy cat and runs far away today"
    sa = np.array(T.minhash_signature(a, 128))
    sb = np.array(T.minhash_signature(b, 128))
    est = (sa == sb).mean()
    true = T.jaccard(T.shingles(a), T.shingles(b))
    assert abs(est - true) < 0.2


def test_simhash_dedup(spark, docs):
    out = simhash_dedup(docs, max_hamming=3).collect()
    got = {(int(r.id_a), int(r.id_b)) for r in out}
    assert {(i, i + 10_000) for i in range(5)} <= got  # exact dups: hamming 0


def test_embedding_dedup_and_ann(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    n = emb.count()
    # near-dup: duplicate 3 vectors with tiny noise
    rows = emb.limit(3).collect()
    noisy = [
        (9_000 + r.vec_id, [float(v) + 0.001 for v in r.embedding], r.label) for r in rows
    ]
    emb2 = emb.unionByName(spark.createDataFrame(noisy, emb.schema))
    pairs = embedding_dedup(emb2, threshold=0.99).collect()
    got = {(int(r.id_a), int(r.id_b)) for r in pairs}
    assert {(r.vec_id, r.vec_id + 9_000) for r in rows} <= got

    # ANN: IVF recall vs brute force
    queries = spark.createDataFrame(
        [(int(r.vec_id), [float(v) for v in r.embedding]) for r in emb.limit(8).collect()],
        "q_id long, q_vec array<float>",
    )
    exact = cosine_topk_bruteforce(queries, emb, 10).collect()
    C = train_centroids(emb, n_centroids=8)
    approx = ivf_topk(queries, emb, 10, centroids=C, n_probe=4).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.q_id, set()).add(r.vec_id)
    hit = tot = 0
    for r in approx:
        tot += 1
        hit += r.vec_id in exact_sets[r.q_id]
    assert hit / tot > 0.75, f"IVF recall {hit/tot}"


def test_text_kernels():
    s = pd.Series(["The quick brown fox. And the lazy dog!", "le la et les des est un", ""])
    assert T.token_count(s).tolist() == [8, 7, 0]
    assert T.lang_id(s) == ["en", "fr", "und"]
    q = T.quality_score(s)
    assert all(0 <= v <= 1 for v in q) and q[2] < q[0]
    f1 = T.rolling_fingerprint("hello world " * 30)
    f2 = T.rolling_fingerprint("hello world " * 30)
    assert f1 == f2
    assert T.simhash64("a b c") != T.simhash64("x y z")


def test_checkpoint_resume(spark, tmp_path, docs):
    ckpt_dir = str(tmp_path / "ckpt")

    def fn(df):
        return df.groupBy("lang").agg(F.count("*").alias("n"))

    # one-shot ground truth
    full = resumable_apply(
        spark, docs, fn, CheckpointTable(ckpt_dir + "_full"), stage="s1",
        bucket_col="doc_id", n_buckets=4,
    )
    want = {(r.lang, r.n) for r in full.groupBy("lang").agg(F.sum("n").alias("n")).collect()}

    # killed run: fails after 2 of 4 buckets
    ck = CheckpointTable(ckpt_dir)
    with pytest.raises(RuntimeError, match="simulated failure"):
        resumable_apply(spark, docs, fn, ck, stage="s1", bucket_col="doc_id",
                        n_buckets=4, fail_after=2)
    assert len(ck.completed_buckets()) == 2
    # resume: only remaining buckets run; result identical
    out = resumable_apply(spark, docs, fn, ck, stage="s1", bucket_col="doc_id", n_buckets=4)
    got = {(r.lang, r.n) for r in out.groupBy("lang").agg(F.sum("n").alias("n")).collect()}
    assert got == want
    assert len(ck.completed_buckets()) == 4
    lineage = ck.lineage()
    assert len(lineage) == 4
    assert all(rec["rows_in"] >= rec["rows_out"] >= 0 for rec in lineage)


def test_streaming_windowed_counts(spark, tmp_path):
    import shutil

    from geojson_spark.streaming.windows import run_events_stream, windowed_cell_counts

    events_dir = str(tmp_path / "events")  # file source requires a directory
    (tmp_path / "events").mkdir()
    shutil.copy(f"{SF}/events.parquet", events_dir + "/part-0.parquet")
    q = run_events_stream(spark, events_dir, query_name="cc_test")
    q.processAllAvailable()
    q.stop()
    got = spark.table("cc_test")
    batch = windowed_cell_counts(spark.read.parquet(events_dir))
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b
    assert len(g) > 10


def test_hash_split_deterministic_and_proportional(spark):
    from geojson_spark.operators.splits import hash_split

    docs = spark.range(20000).select(F.col("id").alias("doc_id"))
    a = hash_split(docs).groupBy("split").count().collect()
    fracs = {r.split: r["count"] / 20000 for r in a}
    assert abs(fracs["train"] - 0.9) < 0.02
    assert abs(fracs["val"] - 0.05) < 0.01
    assert abs(fracs["test"] - 0.05) < 0.01
    # repartition-independent: same assignment per id
    b = hash_split(docs.repartition(13)).select("doc_id", "split")
    a2 = hash_split(docs).select("doc_id", "split")
    assert a2.subtract(b).count() == 0 and b.subtract(a2).count() == 0


def test_contamination_check_planted(spark):
    import pandas as pd

    from geojson_spark.operators.splits import contamination_check

    train = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [
            "alpha beta gamma delta epsilon", "one two three four"]})
    )
    test = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10, 11], "text": [
            "alpha beta gamma delta zeta",   # shares 2 of 3 shingles
            "totally novel words here now",  # shares none
        ]})
    )
    rows = {r.doc_id: r for r in contamination_check(train, test, k_shingle=3).collect()}
    assert rows[10].n_shingles == 3 and rows[10].n_contaminated == 2
    assert rows[11].n_shingles == 3 and rows[11].n_contaminated == 0

def test_pack_sequences_greedy_invariants(spark):
    import pandas as pd

    from geojson_spark.operators.splits import pack_sequences

    rng_tokens = [(i, i % 3, 40 + (i * 37) % 200) for i in range(120)]
    docs = spark.createDataFrame(
        pd.DataFrame(rng_tokens, columns=["doc_id", "shard", "n_tokens"])
    )
    out = pack_sequences(docs, capacity=256).toPandas()
    merged = out.merge(
        pd.DataFrame(rng_tokens, columns=["doc_id", "shard", "n_tokens"]),
        on=["doc_id", "shard"],
    ).sort_values(["shard", "doc_id"])
    for shard, grp in merged.groupby("shard"):
        # bin numbers start at 0 and are contiguous non-decreasing
        assert grp.bin_no.iloc[0] == 0
        assert (grp.bin_no.diff().fillna(0) >= 0).all()
        assert (grp.bin_no.diff().fillna(0) <= 1).all()
        # every bin except possibly per-doc-oversized ones fits capacity
        fills = grp.groupby("bin_no").n_tokens.sum()
        single = grp.groupby("bin_no").size()
        assert ((fills <= 256) | (single == 1)).all()
        # greedy: the doc that OPENS a new bin would not have fit in the
        # previous (now-final) bin
        fills_d = fills.to_dict()
        first_docs = grp.groupby("bin_no").first()
        for bin_no, r in first_docs.iterrows():
            if bin_no > 0:
                assert fills_d[bin_no - 1] + r.n_tokens > 256

def test_stratified_sample_deterministic(spark):
    from geojson_spark.operators.splits import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fr = {"en": 0.5, "de": 1.0}
    a = stratified_sample(docs, strata_col="lang", fractions=fr).select("doc_id")
    b = stratified_sample(docs.repartition(7), strata_col="lang", fractions=fr).select("doc_id")
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0
    kept = stratified_sample(docs, strata_col="lang", fractions=fr).groupBy("lang").count()
    tot = docs.groupBy("lang").count()
    k = {r.lang: r["count"] for r in kept.collect()}
    t = {r.lang: r["count"] for r in tot.collect()}
    assert k["de"] == t["de"]          # fraction 1.0 keeps everything
    assert 0.3 * t["en"] < k["en"] < 0.7 * t["en"]
    assert "zh" not in k               # unlisted strata dropped

def test_checkpoint_resume_guards(spark, tmp_path, docs):
    """Resume with a different n_buckets or stage must raise — a silent
    re-hash duplicates/drops rows; a stage mismatch returns the wrong
    stage's data."""
    ck = CheckpointTable(str(tmp_path / "g"))

    def fn(df):
        return df.groupBy("lang").agg(F.count("*").alias("n"))

    with pytest.raises(RuntimeError, match="simulated failure"):
        resumable_apply(spark, docs, fn, ck, stage="s1", bucket_col="doc_id",
                        n_buckets=4, fail_after=1)
    with pytest.raises(ValueError, match="n_buckets=4"):
        resumable_apply(spark, docs, fn, ck, stage="s1", bucket_col="doc_id", n_buckets=8)
    with pytest.raises(ValueError, match="stage 's1'"):
        resumable_apply(spark, docs, fn, ck, stage="s2", bucket_col="doc_id", n_buckets=4)
    # matching resume still completes
    out = resumable_apply(spark, docs, fn, ck, stage="s1", bucket_col="doc_id", n_buckets=4)
    assert out.agg(F.sum("n")).first()[0] == docs.count()


def test_checkpoint_lock_survives_killed_owner(tmp_path):
    """A lock file left behind by a SIGKILLed committer must not block
    commits: the flock protocol releases on process death, and a stale
    lock FILE (vs a held flock) is just an unlocked inode."""
    import subprocess
    import sys
    import time as _time

    root = str(tmp_path / "ck")
    ck = CheckpointTable(root)
    # a crashed process leaves the lock file on disk with no live flock
    open(ck._manifest_path + ".lock", "w").close()
    ck.commit_bucket(0, {"stage": "s1"})
    assert ck.completed_buckets("s1") == {0}

    # a child that takes the flock and dies mid-critical-section releases it
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import fcntl, os, sys, time\n"
            f"fd = os.open({ck._manifest_path + '.lock'!r}, os.O_CREAT | os.O_WRONLY)\n"
            "fcntl.flock(fd, fcntl.LOCK_EX)\n"
            "print('locked', flush=True)\n"
            "time.sleep(60)\n",
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    assert child.stdout.readline().strip() == "locked"
    child.kill()
    child.wait()
    t0 = _time.time()
    ck.commit_bucket(1, {"stage": "s1"})  # must not spin 30s then TimeoutError
    assert _time.time() - t0 < 5.0
    assert ck.completed_buckets("s1") == {0, 1}


def test_image_resize_tile_histogram(spark):
    import numpy as np

    from geojson_spark.sources.images import decode_image, generate_images, luma_histogram

    imgs = generate_images(spark, 30)
    meta = {r.image_id: r for r in imgs.select("image_id", "bytes", "fmt", "w", "h").collect()}

    # histogram: integer-exact vs direct NumPy, bins sum to n_pixels
    hists = {r.image_id: r for r in luma_histogram(imgs, bins=16).collect()}
    for iid, src in list(meta.items())[:5]:
        px = decode_image(bytes(src.bytes), src.fmt, src.w, src.h).reshape(-1, 3).astype(np.int64)
        luma = (299 * px[:, 0] + 587 * px[:, 1] + 114 * px[:, 2]) // 1000
        want = np.bincount(luma * 16 // 256, minlength=16)
        r = hists[iid]
        assert list(r.hist) == want.tolist()
        assert sum(r.hist) == src.w * src.h
        assert r.brightness_milli == 1000 * int(luma.sum()) // (luma.size * 255)
