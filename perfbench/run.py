"""Spatial-engine benchmark: one workload, one seed, one warm session.

    python3 perfbench/run.py --workload {tiling,spatial_query,geojson_io}
        --seed N --seconds S --trace {0,1} [--smoke]

Run from the repository root. Set-up starts a ``local[N]`` session
(N = min(4, usable CPUs)) through ``geojson_spark.session.get_spark``,
writes the seeded inputs three times (they must come out identical; the
median time counts), computes the expected outputs with NumPy and makes
one untimed warm pass, which also spawns the Python workers. Then one
closed-loop client repeats the workload's call sequence back to back for
``--seconds`` (and at least twice) and checks every repetition's outputs.

``--trace 0`` prints the end-to-end metrics (``setup_s``, ``run_s``,
``rows_per_s``, ``peak_rss_mb``); ``--trace 1`` materialises each layer
call as its own action and prints the per-layer metrics read from the
executed plans. The last stdout line is one JSON object; the full record
(spans, per-action plan counters, host probes) goes to
``.bench_work/detail/<workload>-s<seed>-t<trace>.json``. Everything the
run writes stays under ``.bench_work`` in the current directory.
"""

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# per-layer metrics: (layer span, counter) pairs printed with --trace 1;
# a layer the workload does not call reads 0
LAYER_METRICS = [
    ("images.verify", ("wall_s", "python_ms", "python_bytes_sent")),
    ("cells.s2_assign", ("wall_s", "python_ms")),
    ("joins.pip_grid", ("wall_s", "candidate_rows", "keep_ratio", "broadcast_bytes")),
    ("joins.pip_s2", ("wall_s", "candidate_rows", "keep_ratio", "broadcast_bytes")),
    ("joins.knn_grid", ("wall_s", "candidate_rows", "residual_queries")),
    ("joins.knn_hex", ("wall_s", "candidate_rows", "residual_queries")),
    ("joins.distance", ("wall_s", "broadcast_rows")),
    ("agg.salted", ("wall_s", "shuffle_bytes")),
    ("agg.tile_rollup", ("wall_s",)),
    ("checkpoint.lineage", ("wall_s", "bytes_written")),
    ("rasterize.render", ("wall_s", "python_ms", "shuffle_bytes")),
    ("geojson.read", ("wall_s", "python_ms")),
    ("geojson.table", ("wall_s",)),
    ("geojson.write", ("wall_s", "bytes_written")),
]
UNITS = {"wall_s": "s", "python_ms": "ms", "python_bytes_sent": "bytes",
         "candidate_rows": "rows", "keep_ratio": "ratio", "broadcast_bytes": "bytes",
         "broadcast_rows": "rows", "residual_queries": "rows", "shuffle_bytes": "bytes",
         "bytes_written": "bytes"}
# counters that must repeat exactly between repetitions and runs
EXACT = ("candidate_rows", "residual_queries", "exchanges", "fingerprints",
         "python_bytes_sent", "shuffle_bytes", "broadcast_bytes", "broadcast_rows", "out_rows")
MIN_REPS = 2


def host_probe() -> float:
    """Seconds of a fixed single-core NumPy task: the host's speed right
    now, recorded next to every repetition. Not a gate, not a metric."""
    import numpy as np

    x = np.random.default_rng(1).standard_normal(300_000)
    t0 = time.perf_counter()
    for _ in range(3):
        x = np.sort(x * 1.0001 + np.sin(x))
    return time.perf_counter() - t0


def _tree_rss_kb() -> dict[str, int]:
    """Resident kB of this process and each descendant (the JVM, the
    Python daemon and workers), keyed by pid:command."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    exe = {}
    for pid in tree:
        try:
            exe[pid] = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
        except OSError:
            exe[pid] = None
    out = {}
    for pid in tree:
        if exe[pid] == "java" and exe.get(parent[pid]) == "java":
            # the JVM forking a Python daemon: until the exec the child
            # shares the JVM's pages and would count them twice
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh)
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmRSS"].split()[0])
        except (OSError, KeyError, ValueError):
            continue
    return out


class RssSampler:
    """Peak of the whole process tree's summed resident memory, sampled
    every ``interval`` seconds on a daemon thread. The tree's processes
    come and go (idle Python workers are reaped), so the instantaneous sum
    is sampled rather than adding up per-process high-water marks."""

    def __init__(self, interval: float = 0.2):
        self.peak_kb = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval,), daemon=True)

    def _loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.sample()

    def sample(self) -> None:
        snap = _tree_rss_kb()
        total = sum(snap.values())
        if total > self.peak_kb:
            self.peak_kb, self.at_peak = total, snap

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def quartiles(xs: list[float]) -> dict:
    if len(xs) < 2:
        return {"median": xs[0], "q1": xs[0], "q3": xs[0], "n": len(xs)}
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return {"median": statistics.median(xs), "q1": q1, "q3": q3, "n": len(xs)}


def start_session(n_cpus: int, tmp: str):
    from geojson_spark.session import get_spark

    spark = get_spark(
        master=f"local[{n_cpus}]",
        app_name="perfbench",
        shuffle_partitions=2 * n_cpus,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": (
                # a fixed, pre-touched heap: the JVM's resident size then
                # does not depend on when the collector grew the heap. The
                # C1-only JIT reaches steady speed within the warm pass; with
                # C2 the first repetitions of a run were still 10-20% slower
                "-Xms1g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"
            ),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (parent of the Python workers)
    has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def _as_is(df):
    return df


def _checkpoint(df):
    return df.localCheckpoint(eager=True)


def measure(wl, spark, tracer, mat, exp, seconds: float, min_reps: int) -> list[dict]:
    """Closed loop: the next repetition starts when the previous one has
    returned; stops at the first repetition boundary past ``seconds``."""
    reps = []
    t_end = time.perf_counter() + seconds
    while True:
        probe = host_probe()
        first_span = len(tracer.spans)
        t0 = time.perf_counter()
        out = wl.run(spark, tracer, mat)
        dt = time.perf_counter() - t0
        fails = wl.check(out, exp)
        reps.append({"run_s": dt, "probe_s": probe, "failures": fails,
                     "spans": tracer.spans[first_span:]})
        if len(reps) >= min_reps and time.perf_counter() >= t_end:
            return reps


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for tests")
    args = ap.parse_args(argv)

    work = os.path.abspath(".bench_work")
    run_dir = os.path.join(work, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    # Python's tempfile (used by geojson_spark.session.attach_package) and
    # the JVMs (spark-submit's launcher too) write temp files; keep them
    # inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable

    import geojson_spark  # noqa: F401 — fail fast without the engine
    from spans import Tracer, per_layer
    from workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    sizes = SIZES["smoke" if args.smoke else "full"][args.workload]
    wl = WORKLOADS[args.workload](sizes, run_dir, args.seed)
    n_cpus = min(4, len(os.sched_getaffinity(0)))

    spark = None
    rss = RssSampler()
    rss.start()
    try:
        t0 = time.perf_counter()
        spark = start_session(n_cpus, tmp)
        session_s = time.perf_counter() - t0
        gen_s, digests = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            digests.append(wl.generate(spark))
            gen_s.append(time.perf_counter() - t0)
        if len(set(digests)) != 1:
            raise RuntimeError(f"input generation is not deterministic: {digests}")
        t0 = time.perf_counter()
        exp = wl.expected()
        expected_s = time.perf_counter() - t0
        plain = Tracer(spark, plans=False)
        t0 = time.perf_counter()  # the warm pass also spawns the Python workers
        warm_fails = wl.check(wl.run(spark, plain, _as_is), exp)
        warm_pass_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(gen_s) + expected_s + warm_pass_s

        record = {
            "workload": wl.name, "why": wl.why, "seed": args.seed, "sizes": sizes,
            "smoke": args.smoke, "master": f"local[{n_cpus}]", "input_digest": digests[0],
            "setup": {"session_s": session_s, "generate_s": gen_s,
                      "expected_s": expected_s, "warm_pass_s": warm_pass_s,
                      "warm_pass_failures": warm_fails, "setup_s": setup_s},
        }
        if args.trace == 0:
            reps = measure(wl, spark, plain, _as_is, exp, args.seconds, MIN_REPS)
            run_s = statistics.median(r["run_s"] for r in reps)
            metrics = {
                "setup_s": (setup_s, "s"),
                "run_s": (run_s, "s"),
                "rows_per_s": (wl.rows / run_s, "rows/s"),
                "peak_rss_mb": (rss.peak_kb / 1024.0, "MB"),
            }
            timed = reps
        else:
            # a short untraced baseline, then traced repetitions
            base = measure(wl, spark, plain, _as_is, exp, 0, 1)
            tracer = Tracer(spark, plans=True)
            try:
                reps = measure(wl, spark, tracer, _checkpoint, exp, args.seconds, 2)
            finally:
                tracer.close()
            layers = [per_layer(r["spans"]) for r in reps]
            last = layers[-1]
            stable = all({k: {c: v for c, v in l[k].items() if c in EXACT} for k in l}
                         == {k: {c: v for c, v in last[k].items() if c in EXACT} for k in last}
                         for l in layers)
            metrics = {}
            for layer, names in LAYER_METRICS:
                for c in names:
                    if layer not in last:
                        value = 0.0
                    elif c == "wall_s":
                        value = statistics.median(l[layer]["wall_s"] for l in layers)
                    else:
                        value = last[layer][c]
                    metrics[f"{layer}.{c}"] = (value, UNITS[c])
            overhead = (statistics.median(r["run_s"] for r in reps)
                        - statistics.median(r["run_s"] for r in base))
            metrics["plan.exchanges"] = (sum(v["exchanges"] for v in last.values()), "count")
            metrics["trace.overhead_s"] = (overhead, "s")
            record["per_layer"] = layers
            record["counters_stable_across_reps"] = stable
            record["untraced_baseline_run_s"] = [r["run_s"] for r in base]
            timed = base + reps
        record["reps"] = [{k: v for k, v in r.items() if k != "spans"} for r in timed]
        record["spans"] = [dict(s, rep=i) for i, r in enumerate(timed) for s in r["spans"]]
        record["run_s"] = quartiles([r["run_s"] for r in reps])
        record["host_probe_after_s"] = host_probe()
        failed = sum(1 for r in timed if r["failures"])
        record["failed_frac"] = failed / len(timed)
        record["rss_kb_at_peak"] = rss.at_peak
        correct = failed == 0 and not warm_fails
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        record["metrics"] = metrics

        detail = os.path.join(work, "detail")
        os.makedirs(detail, exist_ok=True)
        with open(os.path.join(detail, f"{wl.name}-s{args.seed}-t{args.trace}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
    finally:
        rss.stop()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "correct": correct,
        "attempted": len(timed),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
