"""Iceberg-style checkpoint table: per-partition lineage + resumable stages.

The container has no Iceberg runtime (SURVEY.md environment facts), so the
"Iceberg table" contract is emulated the way Iceberg itself works: immutable
data files + an atomically-swapped JSON manifest (write-temp + ``os.replace``)
guarded by an exclusive-create lock file so concurrent committers serialize
instead of losing updates. That gives the properties the north rule needs —
atomic visibility of completed work and partition-granular resume.

Layout under ``root``:
    manifest.json                 {"stage":…, "n_buckets":…, "buckets": {…}, "seq": k}
    data/bucket=<b>/part.parquet  output rows of bucket b
    lineage/<stage>-<b>.json      per-bucket lineage record

``resumable_apply`` splits the input on a bucket column, skips buckets the
manifest marks complete FOR THIS STAGE AND BUCKETING, processes the rest
through the caller's DataFrame→DataFrame function, and appends lineage
(rows_in, rows_out, wall_ms, partition count) per bucket. A killed job
re-runs only missing buckets; outputs are union(previous parquet, new work).
Resuming with a different ``stage`` or ``n_buckets`` than the manifest
records raises instead of silently mixing incompatible bucketings.

Concurrency: a bucket is CLAIMED under the manifest lock before any work
(two simultaneous resumes partition the todo list instead of racing
overwrite-writes into one directory), data is staged to a temp dir and
published with an atomic rename before the manifest commit, and a claim
whose owner has died is reclaimed on the next resume (same-host
liveness: the pid answers signal 0 and still has the start time the
claim recorded, so a recycled pid does not revive a dead claim —
cross-host claim arbitration is out of scope for this single-host
Iceberg emulation and documented as such).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_BUCKET_COL = "__ckpt_bucket"  # collision-proof internal name


def _pid_alive(pid: int) -> bool:
    """Best-effort same-host liveness (signal 0)."""
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    except OSError:
        return False


def _start_time(pid: int) -> int | None:
    """Start time of ``pid`` in clock ticks after boot: field 22 of
    ``/proc/<pid>/stat``, read after the last ')' because the command
    name (field 2) may itself hold spaces and parentheses. None when the
    process is gone or there is no procfs."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            return int(fh.read().rpartition(b")")[2].split()[19])
    except (OSError, ValueError, IndexError):
        return None


def _claim_alive(rec: dict) -> bool:
    """A claim is live while its owner pid exists AND, when the claim
    recorded one, that pid still has the owner's start time — after a
    crash the kernel may hand the pid to an unrelated process, which
    would otherwise keep the dead claim alive until the sibling wait
    times out. Claims without a start time get the pid-only check."""
    pid = rec.get("pid")
    if pid is None or not _pid_alive(int(pid)):
        return False
    return rec.get("start") is None or rec["start"] == _start_time(int(pid))


class CheckpointTable:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "lineage"), exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def read_manifest(self) -> dict:
        try:
            with open(self._manifest_path, encoding="utf-8") as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {"buckets": {}, "seq": 0}

    def _write_manifest(self, m: dict) -> None:
        """Write-temp + ``os.replace``: readers see the old or the new
        manifest, never a torn one. Callers hold the manifest lock."""
        tmp = self._manifest_path + f".tmp{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(m, fh)
        os.replace(tmp, self._manifest_path)

    def _with_lock(self, fn):
        """Serialize manifest read-modify-write across processes: flock on a
        persistent lock file with bounded retry (a plain read+replace would
        lose a concurrent committer's bucket — the opposite of a commit
        protocol). flock, not O_CREAT|O_EXCL: the kernel drops an flock when
        its owner dies, so a SIGKILLed committer can never leave a stale
        lock that blocks the kill→resume path this primitive exists for.
        The lock file is deliberately never unlinked — removing an flocked
        path would let two processes hold 'the lock' on different inodes."""
        import fcntl

        lock = self._manifest_path + ".lock"
        fd = os.open(lock, os.O_CREAT | os.O_WRONLY, 0o644)
        deadline = time.time() + 30.0
        try:
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except OSError:
                    if time.time() > deadline:
                        raise TimeoutError(f"manifest lock held too long: {lock}")
                    time.sleep(0.05)
            return fn()
        finally:
            os.close(fd)  # closing the fd releases the flock

    def commit_bucket(self, bucket: int, record: dict, *, meta: dict | None = None) -> None:
        """Atomic manifest swap under the commit lock."""

        def _commit():
            m = self.read_manifest()
            if meta:
                m.update(meta)
            m["buckets"][str(bucket)] = record
            m["seq"] += 1
            self._write_manifest(m)

        self._with_lock(_commit)

    def claim_bucket(self, bucket: int, *, stage: str, owner: str) -> bool:
        """Atomically claim a bucket for processing (manifest RMW under the
        commit lock). Returns False when the bucket is already DONE or
        claimed by a committer that is still alive on this host; a claim
        whose owner is gone (see ``_claim_alive``) is treated as crashed
        and reclaimed (same-host liveness is best-effort — cross-host
        arbitration is out of scope for this emulation, documented in the
        module docstring)."""

        def _claim() -> bool:
            m = self.read_manifest()
            rec = m["buckets"].get(str(bucket))
            if rec is not None:
                if rec.get("state") != "claimed":
                    return False  # done
                if _claim_alive(rec) and rec.get("owner") != owner:
                    return False  # live concurrent committer owns it
            m["buckets"][str(bucket)] = {
                "state": "claimed", "stage": stage, "bucket": bucket,
                "owner": owner, "pid": os.getpid(),
                "start": _start_time(os.getpid()), "ts": time.time(),
            }
            m["seq"] += 1
            self._write_manifest(m)
            return True

        return self._with_lock(_claim)

    def release_claim(self, bucket: int, *, owner: str) -> None:
        """Drop this owner's claim (failure path) so a resume can retry the
        bucket immediately instead of waiting for pid-liveness detection."""

        def _release():
            m = self.read_manifest()
            rec = m["buckets"].get(str(bucket))
            if rec is not None and rec.get("state") == "claimed" and rec.get("owner") == owner:
                del m["buckets"][str(bucket)]
                m["seq"] += 1
                self._write_manifest(m)

        self._with_lock(_release)

    def completed_buckets(self, stage: str | None = None) -> set[int]:
        """Buckets with a COMMITTED result (in-flight claims excluded)."""
        m = self.read_manifest()
        return {
            int(b)
            for b, rec in m["buckets"].items()
            if rec.get("state") != "claimed"
            and (stage is None or rec.get("stage") == stage)
        }

    def bucket_data_path(self, bucket: int) -> str:
        return os.path.join(self.root, "data", f"bucket={bucket}")

    def write_lineage(self, stage: str, bucket: int, record: dict) -> None:
        p = os.path.join(self.root, "lineage", f"{stage}-{bucket}.json")
        tmp = p + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(record, fh)
        os.replace(tmp, p)

    def lineage(self) -> list[dict]:
        out = []
        d = os.path.join(self.root, "lineage")

        def key(fn: str):
            stem = fn[: -len(".json")]
            stage, _, b = stem.rpartition("-")
            return (stage, int(b) if b.isdigit() else -1)

        for fn in sorted((f for f in os.listdir(d) if f.endswith(".json")), key=key):
            with open(os.path.join(d, fn), encoding="utf-8") as fh:
                out.append(json.load(fh))
        return out


def resumable_apply(
    spark: SparkSession,
    df: DataFrame,
    fn: Callable[[DataFrame], DataFrame],
    ckpt: CheckpointTable,
    *,
    stage: str,
    bucket_col: str,
    n_buckets: int,
    fail_after: int | None = None,
    sibling_wait_s: float = 300.0,
) -> DataFrame:
    """Run ``fn`` bucket-by-bucket with checkpoint/resume.

    ``bucket_col`` is hashed into ``n_buckets`` work units (the north rule's
    'explicit repartitioning by H3 prefix' — pass a cell/cell-prefix column).
    ``fail_after`` kills the job after N buckets (for kill→resume tests).
    Returns the full output (previously checkpointed ∪ newly computed):
    when a concurrent resume holds claims on some buckets, this process
    waits up to ``sibling_wait_s`` for those commits (reclaiming any whose
    owner died) and raises if buckets remain unfinished — it never returns
    a partial result.
    """
    m = ckpt.read_manifest()
    if m["buckets"]:
        # resume must match the original run: a different bucket count
        # re-hashes rows across buckets (duplicating some, dropping
        # others), and a different stage would silently return the other
        # stage's output
        if m.get("n_buckets") not in (None, n_buckets):
            raise ValueError(
                f"checkpoint was written with n_buckets={m.get('n_buckets')}, "
                f"resume requested {n_buckets}"
            )
        if m.get("stage") not in (None, stage):
            raise ValueError(
                f"checkpoint belongs to stage {m.get('stage')!r}, not {stage!r}"
            )

    bucketed = df.withColumn(
        _BUCKET_COL, F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(n_buckets))
    )
    done = ckpt.completed_buckets(stage)
    todo = [b for b in range(n_buckets) if b not in done]
    owner = f"{os.getpid()}-{id(ckpt)}-{int(time.time() * 1000)}"

    # one pass over the (possibly expensive) source feeds every bucket
    # iteration; without the persist each bucket re-scans the input once
    # per write
    if todo:
        bucketed = bucketed.persist()
    try:
        # all rows_in counts in ONE job — the former per-bucket count()
        # scanned the persisted input once per todo bucket (2× job count)
        rows_in_by_bucket = (
            {
                r[_BUCKET_COL]: r["count"]
                for r in bucketed.groupBy(_BUCKET_COL).count().collect()
            }
            if todo
            else {}
        )
        processed = 0

        def _process(b: int) -> None:
            t0 = time.time()
            try:
                part = bucketed.where(F.col(_BUCKET_COL) == b).drop(_BUCKET_COL)
                rows_in = int(rows_in_by_bucket.get(b, 0))
                out = fn(part)
                out_path = ckpt.bucket_data_path(b)
                # stage to a temp dir, publish with an atomic rename: the
                # manifest must never mark complete a directory a crashed
                # writer left half-written
                tmp_path = f"{out_path}.tmp.{owner}"
                out.write.mode("overwrite").parquet(tmp_path)
                # read the materialized files back for rows_out/partitions —
                # touching out.rdd would re-execute fn's shuffles under AQE
                back = spark.read.parquet(tmp_path)
                rows_out = back.count()
                n_parts = back.rdd.getNumPartitions() if rows_out else 0
                shutil.rmtree(out_path, ignore_errors=True)
                os.replace(tmp_path, out_path)
            except BaseException:
                ckpt.release_claim(b, owner=owner)
                raise
            wall_ms = int((time.time() - t0) * 1000)
            rec = {
                "stage": stage,
                "bucket": b,
                "rows_in": rows_in,
                "rows_out": rows_out,
                "wall_ms": wall_ms,
                "partitions": n_parts,
            }
            ckpt.write_lineage(stage, b, rec)
            ckpt.commit_bucket(b, rec, meta={"stage": stage, "n_buckets": n_buckets})

        # outer loop: after draining our claimable buckets, buckets claimed
        # by a LIVE sibling resume are still in flight — the 'Returns the
        # full output' contract means we must wait for their commits (or
        # reclaim them when the sibling dies), never silently return a
        # DataFrame missing their rows. The wait budget starts when WAITING
        # starts (first pass that makes no progress), not at loop entry —
        # otherwise a resume that spent sibling_wait_s on its own buckets
        # would time out the moment it finished working.
        deadline: float | None = None
        n_left = n_buckets
        while True:
            remaining = [
                b for b in range(n_buckets)
                if b not in ckpt.completed_buckets(stage)
            ]
            if not remaining:
                break
            if len(remaining) < n_left:
                deadline = None  # a sibling committed: it is alive and progressing
            n_left = len(remaining)
            claimed_any = False
            for b in remaining:
                if fail_after is not None and processed >= fail_after:
                    raise RuntimeError(f"simulated failure after {processed} buckets")
                # claim-before-work: two concurrent resumes of one checkpoint
                # would otherwise both compute the same todo list and race
                # overwrite-writes into the same bucket directory (one job
                # deleting the other's files mid-write)
                if not ckpt.claim_bucket(b, stage=stage, owner=owner):
                    continue  # a live sibling owns it — revisit next pass
                claimed_any = True
                _process(b)
                processed += 1
            if claimed_any:
                deadline = None  # progress was made; reset the wait budget
                continue
            if deadline is None:
                deadline = time.time() + sibling_wait_s
            if time.time() > deadline:
                still = [
                    b for b in range(n_buckets)
                    if b not in ckpt.completed_buckets(stage)
                ]
                if still:
                    raise TimeoutError(
                        f"buckets {still} still claimed by concurrent resumes "
                        f"after {sibling_wait_s:.0f}s — refusing to return a "
                        "partial result"
                    )
                break
            time.sleep(0.1)
    finally:
        if todo:
            bucketed.unpersist()

    paths = [ckpt.bucket_data_path(b) for b in sorted(ckpt.completed_buckets(stage))]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        # the commit protocol always writes data before the manifest, so a
        # manifest-complete bucket with no data directory is corruption —
        # raise rather than silently return partial results
        raise RuntimeError(f"checkpoint data missing for committed buckets: {missing}")
    return spark.read.parquet(*paths)


def partition_metrics(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition row counts + cell range — the lineage record the north
    rule asks to land 'after every stage'. Pure mapInPandas; cheap."""
    import pandas as pd

    def count(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        n = 0
        for pdf in it:
            n += len(pdf)
        yield pd.DataFrame({"stage": [stage], "partition_id": [pid], "rows": [n]})

    return df.mapInPandas(count, schema="stage string, partition_id int, rows long")
