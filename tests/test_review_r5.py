"""Round-5 regression tests for the ADVICE findings + VERDICT items.

1. resumable_apply must never return a partial result when a concurrent
   resume holds claims: it waits for live siblings' commits (each commit
   restarts the wait budget; it raises once a sibling stalls for the whole
   budget) and reclaims buckets whose owner died.
2. stateful session fold: a below-range straggler within gap of the first
   retained event bridges into that session — one session, not two.
3. property-key JSON paths: keys Spark's JsonPathParser can't express
   must raise instead of silently returning null (with an empirical
   record of what the engine actually parses).
4. streaming GeoJSON sink kill→resume: a crash mid-write of batch 1/3
   leaves a garbage shard; restarting from the checkpoint replays the
   batch deterministically and the final file tree is byte-identical to
   an uninterrupted run.
"""

from __future__ import annotations

import json
import os
import subprocess
import threading
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

GAP_NS = 30 * 60 * 1_000_000_000


# ---------------------------------------------------------------------------
# checkpoint: full-output contract under concurrent resumes
# ---------------------------------------------------------------------------


def _mk_input(spark, n=40):
    return spark.range(n).select(
        F.col("id").cast("long").alias("k"), (F.col("id") * 2).alias("v")
    )


def test_resumable_apply_raises_on_live_sibling_timeout(spark, tmp_path):
    """A bucket claimed by a LIVE sibling that never commits must make
    resumable_apply raise after the wait budget — not silently return a
    DataFrame missing that bucket's rows."""
    from geojson_spark.plans.checkpoint import CheckpointTable, resumable_apply

    ckpt = CheckpointTable(str(tmp_path / "c"))
    # the test process itself is the "live sibling" (pid alive)
    assert ckpt.claim_bucket(0, stage="s", owner="sibling")
    df = _mk_input(spark)
    with pytest.raises(TimeoutError, match="refusing to return a partial"):
        resumable_apply(
            spark, df, lambda part: part, ckpt,
            stage="s", bucket_col="k", n_buckets=2, sibling_wait_s=2.0,
        )


def test_resumable_apply_waits_for_sibling_commit(spark, tmp_path):
    """While a live sibling holds a claim, resumable_apply polls; once the
    sibling commits, the returned frame contains the FULL output."""
    from geojson_spark.plans.checkpoint import CheckpointTable, resumable_apply

    ckpt = CheckpointTable(str(tmp_path / "c"))
    df = _mk_input(spark)
    n_buckets = 2
    # precompute bucket 0's rows exactly as resumable_apply hashes them
    b0 = df.withColumn(
        "_b", F.pmod(F.xxhash64(F.col("k")), F.lit(n_buckets))
    ).where(F.col("_b") == 0).drop("_b")
    b0_rows = b0.count()
    assert 0 < b0_rows < 40
    sibling_out = str(tmp_path / "sibling_out")
    b0.write.mode("overwrite").parquet(sibling_out)

    assert ckpt.claim_bucket(0, stage="s", owner="sibling")

    def sibling_commit():
        time.sleep(1.0)
        os.replace(sibling_out, ckpt.bucket_data_path(0))
        ckpt.commit_bucket(
            0, {"stage": "s", "bucket": 0, "rows_out": b0_rows},
            meta={"stage": "s", "n_buckets": n_buckets},
        )

    t = threading.Thread(target=sibling_commit)
    t.start()
    try:
        out = resumable_apply(
            spark, df, lambda part: part, ckpt,
            stage="s", bucket_col="k", n_buckets=n_buckets, sibling_wait_s=30.0,
        )
        assert out.count() == 40  # nothing missing
        assert sorted(r.k for r in out.collect()) == list(range(40))
    finally:
        t.join()


def test_resumable_apply_waits_while_sibling_keeps_committing(spark, tmp_path):
    """A live sibling that commits one bucket every second for longer than
    ``sibling_wait_s`` in total is making progress: each of its commits
    restarts the wait budget, so there is no TimeoutError and the returned
    frame is the full output."""
    from geojson_spark.plans.checkpoint import CheckpointTable, resumable_apply

    ckpt = CheckpointTable(str(tmp_path / "c"))
    df = _mk_input(spark)
    n_buckets = 4
    hashed = df.withColumn("_b", F.pmod(F.xxhash64(F.col("k")), F.lit(n_buckets)))
    staged = {}
    for b in range(n_buckets):
        part = hashed.where(F.col("_b") == b).drop("_b")
        staged[b] = (str(tmp_path / f"sibling_{b}"), part.count())
        part.write.mode("overwrite").parquet(staged[b][0])
        assert ckpt.claim_bucket(b, stage="s", owner="sibling")

    def sibling_commits():
        for b in range(n_buckets):  # 4 s of commits against a 2 s budget
            time.sleep(1.0)
            os.replace(staged[b][0], ckpt.bucket_data_path(b))
            ckpt.commit_bucket(
                b, {"stage": "s", "bucket": b, "rows_out": staged[b][1]},
                meta={"stage": "s", "n_buckets": n_buckets},
            )

    t = threading.Thread(target=sibling_commits)
    t.start()
    try:
        out = resumable_apply(
            spark, df, lambda part: part, ckpt,
            stage="s", bucket_col="k", n_buckets=n_buckets, sibling_wait_s=2.0,
        )
        assert sorted(r.k for r in out.collect()) == list(range(40))
    finally:
        t.join()


def test_resumable_apply_reclaims_dead_siblings_bucket(spark, tmp_path):
    """A claim whose owner pid is gone is crashed state — the resume must
    reclaim and process that bucket itself, still returning full output."""
    from geojson_spark.plans.checkpoint import CheckpointTable, resumable_apply

    ckpt = CheckpointTable(str(tmp_path / "c"))
    proc = subprocess.Popen(["true"])
    proc.wait()
    dead_pid = proc.pid
    m = ckpt.read_manifest()
    m["buckets"]["0"] = {
        "state": "claimed", "stage": "s", "bucket": 0,
        "owner": "dead-run", "pid": dead_pid, "ts": time.time(),
    }
    with open(os.path.join(str(tmp_path / "c"), "manifest.json"), "w") as fh:
        json.dump(m, fh)

    df = _mk_input(spark)
    out = resumable_apply(
        spark, df, lambda part: part, ckpt,
        stage="s", bucket_col="k", n_buckets=2, sibling_wait_s=10.0,
    )
    assert sorted(r.k for r in out.collect()) == list(range(40))


def _claim_by_other_owner(root, start):
    """A checkpoint whose bucket 0 is claimed by another owner under THIS
    process's pid (alive), with the given recorded start time."""
    from geojson_spark.plans.checkpoint import CheckpointTable

    ckpt = CheckpointTable(root)
    m = ckpt.read_manifest()
    m["buckets"]["0"] = {
        "state": "claimed", "stage": "s", "bucket": 0, "owner": "other-run",
        "pid": os.getpid(), "start": start, "ts": time.time(),
    }
    with open(os.path.join(root, "manifest.json"), "w") as fh:
        json.dump(m, fh)
    return ckpt


def _own_start_time() -> int:
    with open(f"/proc/{os.getpid()}/stat", "rb") as fh:
        return int(fh.read().rpartition(b")")[2].split()[19])


def test_claim_with_recycled_pid_is_reclaimed(tmp_path):
    """The claim's pid exists but belongs to a process started at another
    time: the owner died and the kernel reused its pid, so the claim is
    dead and the bucket is reclaimed."""
    ckpt = _claim_by_other_owner(str(tmp_path / "c"), _own_start_time() + 1)
    assert ckpt.claim_bucket(0, stage="s", owner="me")
    assert ckpt.read_manifest()["buckets"]["0"]["owner"] == "me"


def test_claim_with_matching_start_time_is_refused(tmp_path):
    """Same pid and the same start time: the owner is alive, the bucket
    stays theirs."""
    ckpt = _claim_by_other_owner(str(tmp_path / "c"), _own_start_time())
    assert not ckpt.claim_bucket(0, stage="s", owner="me")
    assert ckpt.read_manifest()["buckets"]["0"]["owner"] == "other-run"


# ---------------------------------------------------------------------------
# stateful sessions: below-range straggler bridging the first retained event
# ---------------------------------------------------------------------------


class _FakeState:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def _fold_batch(fold, state, ts_list):
    pdf = pd.DataFrame({"ts": pd.to_datetime(ts_list)})
    return list(fold((1,), iter([pdf]), state))[-1].iloc[0]


def test_stateful_fold_below_straggler_bridges_into_session():
    """State holds first_ts=12:00. A batch carrying [11:20, 11:40]: 11:20 is
    below-range (< 11:30), 11:40 is retained and within gap of both 11:20
    and 12:00 — the true timeline 11:20→11:40→12:00 is ONE session."""
    from geojson_spark.streaming.stateful import _session_fold

    fold = _session_fold(GAP_NS)
    st = _FakeState()
    _fold_batch(fold, st, ["2024-01-01 12:00:00"])
    row = _fold_batch(fold, st, ["2024-01-01 11:20:00", "2024-01-01 11:40:00"])
    assert row["n_events"] == 3
    assert row["n_sessions"] == 1, "below-range straggler double-counted the bridged session"


def test_stateful_fold_below_straggler_without_bridge_stays_separate():
    """Control: straggler gap-separated from the first retained event keeps
    its own session (10:00 vs 11:45 is a 105-min gap)."""
    from geojson_spark.streaming.stateful import _session_fold

    fold = _session_fold(GAP_NS)
    st = _FakeState()
    _fold_batch(fold, st, ["2024-01-01 12:00:00"])
    row = _fold_batch(fold, st, ["2024-01-01 10:00:00", "2024-01-01 11:45:00"])
    assert row["n_events"] == 3
    assert row["n_sessions"] == 2


# ---------------------------------------------------------------------------
# property keys Spark's JsonPathParser cannot express
# ---------------------------------------------------------------------------


def test_prop_rejects_inexpressible_keys():
    from geojson_spark.functions.properties import _json_path

    for bad in ("", "can't", "back\\slash"):
        with pytest.raises(ValueError, match="not expressible"):
            _json_path(bad)
    # sane keys still work
    assert _json_path("name") == "$.name"
    assert _json_path("a.b") == "$['a.b']"


def test_spark_json_path_bracket_names_verified_against_engine(spark):
    """Empirical record of what Spark 4.1.2's JsonPathParser actually
    resolves: '?' and '*' and spaces inside a quoted name WORK (so the
    guard must not reject them), while the empty name does not."""
    df = spark.createDataFrame([('{"a?b": 1, "a*b": 2, "": 3, "x y": 4}',)], "p string")

    def lookup(path):
        return df.select(F.get_json_object("p", path).alias("v")).first().v

    assert lookup("$['a?b']") == "1"
    assert lookup("$['a*b']") == "2"
    assert lookup("$['x y']") == "4"
    assert lookup("$['']") is None  # why _json_path("") raises

    from geojson_spark.functions.properties import prop

    assert df.select(prop(F.col("p"), "a?b").alias("v")).first().v == "1"


# ---------------------------------------------------------------------------
# streaming sink: kill mid-stream, resume from checkpoint, identical output
# ---------------------------------------------------------------------------


def _feature_line(i: int) -> str:
    return json.dumps({
        "type": "Feature", "id": i,
        "geometry": {"type": "Point", "coordinates": [float(i) / 10, 1.5]},
        "properties": {"name": f"f{i}"},
    })


def _tree_hashes(root: str) -> dict[str, str]:
    import hashlib

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, root)
            with open(p, "rb") as fh:
                out[rel] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_streaming_sink_kill_midstream_resume_identical(spark, tmp_path, monkeypatch):
    """3 ndjson files → 3 one-file micro-batches. The interrupted run
    crashes mid-write of batch 1 (garbage shard on disk, batch never
    committed); the resumed run replays batch 1 by its deterministic id
    and overwrites. Final tree must hash-equal an uninterrupted run."""
    from geojson_spark.sources.geojson import read_geojson_stream
    from geojson_spark.streaming import sinks as sinks_mod
    from geojson_spark.streaming.sinks import write_geojson_stream

    src = tmp_path / "nd"
    src.mkdir()
    for fi, (lo, hi) in enumerate([(0, 10), (10, 25), (25, 30)]):
        p = src / f"{'abc'[fi]}.ndjson"
        with open(p, "w") as fh:
            for i in range(lo, hi):
                fh.write(_feature_line(i) + "\n")
        # strictly increasing mtimes pin the file→batch order
        os.utime(p, (1_700_000_000 + fi, 1_700_000_000 + fi))

    def run(out_dir: str, ckpt: str, name: str):
        feats = read_geojson_stream(spark, str(src), max_files_per_trigger=1)
        return write_geojson_stream(
            feats, out_dir, checkpoint_dir=ckpt, query_name=name
        )

    # --- uninterrupted reference run
    clean_out = str(tmp_path / "out_clean")
    q = run(clean_out, str(tmp_path / "ckpt_clean"), "gj_clean_r5")
    q.awaitTermination(120)
    clean = _tree_hashes(clean_out)
    assert len([k for k in clean if k.endswith(".geojson")]) == 3

    # --- interrupted run: crash mid-write of the SECOND batch
    real_write = sinks_mod.write_geojson
    crash_out = str(tmp_path / "out_crash")
    calls: list[str] = []

    def crashing_write(df, path):
        calls.append(path)
        if path.endswith("batch-000001.geojson"):
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, "part-00000.geojson"), "w") as fh:
                fh.write('{"type": "FeatureCollection", "features": [ GARB')
            raise RuntimeError("simulated crash mid-write")
        return real_write(df, path)

    monkeypatch.setattr(sinks_mod, "write_geojson", crashing_write)
    q = run(crash_out, str(tmp_path / "ckpt_crash"), "gj_crash_r5")
    with pytest.raises(Exception, match="simulated crash mid-write"):
        q.awaitTermination(120)
    assert any(c.endswith("batch-000001.geojson") for c in calls)
    # garbage shard really on disk, batch 0 committed
    assert "GARB" in open(
        os.path.join(crash_out, "batch-000001.geojson", "part-00000.geojson")
    ).read()

    # --- resume from the same checkpoint, healthy writer
    monkeypatch.setattr(sinks_mod, "write_geojson", real_write)
    q = run(crash_out, str(tmp_path / "ckpt_crash"), "gj_resume_r5")
    q.awaitTermination(120)

    assert _tree_hashes(crash_out) == clean, (
        "resumed output differs from the uninterrupted run"
    )


# ---------------------------------------------------------------------------
# bench quiet-host gate
# ---------------------------------------------------------------------------


def test_quiet_host_gate_meets_and_times_out(monkeypatch):
    """The scaling gate must pass instantly when the probe beats the
    healthy threshold, and time out (met=False, still returning a probe
    reading) when it cannot — it may delay a measurement, never block it."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_HEALTHY_PROBE_S", "999")
    out = bench._wait_for_quiet_host(5.0)
    assert out["met"] and out["waited_s"] == 0.0 and out["probe"] > 0

    monkeypatch.setenv("SPARK_GRAFT_HEALTHY_PROBE_S", "0.000001")
    out = bench._wait_for_quiet_host(0.2)
    assert not out["met"] and out["probe"] > 0

    # ceiling_pair: a generous ceiling requirement passes, an impossible
    # (>1) one forces the timeout path even with a healthy probe
    monkeypatch.setenv("SPARK_GRAFT_HEALTHY_PROBE_S", "999")
    monkeypatch.setenv("SPARK_GRAFT_GATE_CEILING", "0.0")
    out = bench._wait_for_quiet_host(10.0, ceiling_pair=(1, 2))
    assert out["met"] and out["ceiling"] is not None

    monkeypatch.setenv("SPARK_GRAFT_GATE_CEILING", "9.9")
    out = bench._wait_for_quiet_host(0.2, ceiling_pair=(1, 2))
    assert not out["met"]
