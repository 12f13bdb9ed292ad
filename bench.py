"""Benchmark harness: the one timing loop and the one quiet-host gate.

    python bench.py                          # headline + scaling
    python bench.py --ab q1 [q2 ...] --reps N  # per-query A/B

The last stdout line is ONE compact JSON summary (< 2000 bytes):
  {"metric", "value": <total headline sec>, "unit": "sec", "sf", "n_images",
   "queries": {name: min sec}, "host_probe_before_sec", "host_probe_after_sec",
   "images_tiled_per_sec@local[lo]", "images_tiled_per_sec@local[hi]",
   "scaling_efficiency_<lo>_to_<hi>", "host_ceiling_efficiency", "gate"}
The full record (per-rep walls and totals, gate polls, pre/post-pair
ceilings, lineage partitions) goes to BENCH/bench_latest.json.

Two parts:
1. headline queries from __spark_entry__ at $SPARK_GRAFT_SF_DIR
   (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].
2. the north-star metric (BASELINE.json): images-tiled/sec for the
   verify→S2-assign→PIP-join→salted-agg pipeline, measured at the pinned
   core pair $SPARK_GRAFT_SCALE_PAIR (default 2,8) on the SAME
   pre-generated parquet input; scaling efficiency = (thr_hi/thr_lo) /
   (hi/lo) (in-sandbox stand-in for N vs 4N executors).

``--ab`` runs part 1's loop over the named queries only; its rep 0 is
the cold rep and the per-query min excludes it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

import pandas as pd  # noqa: F401 — resolves pandas-UDF type hints

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "cell_counts",
    "bbox_union",
    "pip_rects",
    "stream_cell_counts",
    "knn",
    "tile_counts",
    "region_rollup",
    "exact_dedup",
    "events_windows",
    "ann_topk",
    "minhash_near_dups",
    "s2_tile_rollup",
    "shingle_jaccard",
    "embedding_near_dups",
    "event_joins",
    "sessionize",
    "hex_cell_counts",
    "pip_holes",
    "corpus_filter",
    "dedup_keepers",
    "priority_stats",
    "polygon_roundtrip",
    "fidelity_roundtrip",
    "simhash_near_dups",
    "doc_fingerprint",
    "token_stats",
    "splits_sample",
    "contamination",
    "pack_sequences",
    "polygon_metrics",
    "bbox_join",
    "geohash_counts",
    "tile_pyramid",
    "bm25_topk",
    "image_stats",
    "repetition_stats",
    "distance_join",
    "dbscan",
    "density_tiles",
    "zonal_stats",
]


def _new_session(cpus: int, tag: str):
    from geojson_spark.session import get_spark

    s = get_spark(
        master=f"local[{cpus}]",
        app_name=f"bench-{tag}",
        shuffle_partitions=max(8, cpus),
        extra_conf={
            # finer scan granularity: the 300k-image table otherwise packs
            # into ~5 read-partitions at local[2] (waves of 2/2/1 strand a
            # core); ~16 MB splits give every level full waves + load
            # balancing
            "spark.sql.files.maxPartitionBytes": "16m",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def _probe() -> float:
    t0 = time.time()
    _calib_task(0)
    return round(time.time() - t0, 3)


def run_headline(sf_dir: str, cpus: int, names: list[str] = HEADLINE,
                 reps: int | None = None, skip_cold: bool = False) -> dict:
    """Per-query seconds = MIN over interleaved full-list reps.

    One rep per query let a single throttle spike on this shared host
    become the permanent record (round 3: a 2.6× mid-run throttle turned
    48.6 s into 132.9 s). Reps are interleaved — the whole list runs,
    then runs again — so one bad weather window cannot hit the same
    query twice; the min is the closest observable to the engine's own
    cost. Single-core NumPy probes bracket every rep boundary so the
    record carries its own weather normalizer. ``skip_cold`` leaves rep 0
    (plan compilation, shuffle files, page cache) out of the min."""
    import __spark_entry__ as E

    spark = _new_session(cpus, "headline")
    _warm_python_workers(spark, cpus)  # long-running executors are warm
    qs = E.queries()
    if reps is None:
        reps = int(os.environ.get("SPARK_GRAFT_HEADLINE_REPS", "2"))
    walls: dict[str, list[float]] = {name: [] for name in names}
    probes = [_probe()]
    rep_totals: list[float] = []
    for rep in range(reps):
        rep_t0 = time.time()
        for name in names:
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            # noop sink, NOT count(): count() prunes every column, so a
            # projection-shaped query (doc_fingerprint, token_stats,
            # repetition_stats) would never execute its UDF/regexp work
            # and record ~0s — the exact CLAUDE.md profiling trap. The
            # noop write materializes every output column JVM-side.
            df.write.format("noop").mode("overwrite").save()
            walls[name].append(round(time.time() - t0, 3))
            print(f"  [rep {rep}] {name}: {walls[name][-1]}s", file=sys.stderr)
        rep_totals.append(round(time.time() - rep_t0, 3))
        probes.append(_probe())
    spark.stop()
    first = 1 if skip_cold and reps > 1 else 0
    return {
        "queries": {name: min(w[first:]) for name, w in walls.items()},
        "query_walls": walls,
        "host_probe_per_rep": probes,
        "headline_rep_totals": rep_totals,
        "headline_reps": reps,
    }


def tiling_job(spark, images_path: str, ckpt_dir: str | None = None) -> int:
    """The north-star pipeline: verify per-row invariants (decode + PSNR +
    caption + phash — BASELINE.json), S2-assign every image, PIP-join to
    hotspot polygons, salted per-polygon agg + level-7 tile rollup.

    With ``ckpt_dir`` set, per-partition lineage (stage, partition_id,
    rows) of the assignment stage lands in the checkpoint table's lineage
    area (north rule: 'all stages write per-partition lineage + row-count
    metrics'), reusing the cached assignment so the extra pass is cheap."""
    import pandas as pd
    from pyspark.sql import functions as F

    from geojson_spark.functions.spark_funcs import s2_cell_udf, s2_parent_col
    from geojson_spark.operators.agg import salted_agg
    from geojson_spark.operators.joins import pip_join
    from geojson_spark.plans.checkpoint import partition_metrics
    from geojson_spark.sources.images import HOTSPOTS, verify_invariants

    full = spark.read.parquet(images_path)
    images = full.select("image_id", "lon", "lat")
    polys = []
    for i, (cx, cy) in enumerate(HOTSPOTS):
        x0, y0, x1, y1 = cx - 0.25, cy - 0.25, cx + 0.25, cy + 0.25
        polys.append(
            {"poly_id": f"hotspot{i}", "coords": [x0, y0, x1, y0, x1, y1, x0, y1, x0, y0],
             "ring_offsets": [0, 5], "part_offsets": [0, 1], "dim": 2,
             "bbox": [x0, y0, x1, y1]}
        )
    polys_df = spark.createDataFrame(pd.DataFrame(polys))

    # cache the assignment for the tile rollup and the lineage metrics;
    # pip_join(index="s2") does not read cell13 — it recomputes the
    # level-13 leaf from lon/lat, so the S2 UDF runs twice per image
    assigned = images.withColumn(
        "cell13", s2_cell_udf(13)(F.col("lon"), F.col("lat"))
    ).cache()
    joined = pip_join(assigned, polys_df, index="s2")
    counts = salted_agg(joined, "poly_id", {"n_images": ("count", "image_id")}).select(
        F.lit("hotspot").alias("metric"), F.col("n_images").cast("bigint").alias("value")
    )
    tiles = (
        assigned.withColumn("tile7", s2_parent_col(F.col("cell13"), 7))
        .groupBy("tile7")
        .agg(F.count("*").alias("n"))
        .agg(F.count("*").alias("v"))
        .select(F.lit("tiles").alias("metric"), F.col("v").cast("bigint").alias("value"))
    )
    bad = (
        verify_invariants(full)
        .where(~F.col("psnr_ok") | ~F.col("caption_ok") | ~F.col("phash_ok"))
        .agg(F.count("*").alias("v"))
        .select(F.lit("bad_invariants").alias("metric"), F.col("v").cast("bigint").alias("value"))
    )
    # one action drives all three branches (invariants + PIP agg + rollup)
    rows = [(r.metric, r.value) for r in bad.unionByName(counts).unionByName(tiles).collect()]
    n_bad = sum(v for m, v in rows if m == "bad_invariants")
    assert n_bad == 0, f"{n_bad} rows violated decode/caption/phash invariants"
    if ckpt_dir is not None:
        partition_metrics(assigned, "s2_assign").write.mode("append").parquet(
            os.path.join(ckpt_dir, "lineage_s2_assign")
        )
    assigned.unpersist()
    return int(sum(v for m, v in rows if m != "bad_invariants"))


def _warm_python_workers(spark, parts: int) -> None:
    """Spawn + warm every Python UDF worker before timing (a long-running
    cluster's executors are warm; local-mode spawn cost is not the metric)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _w(x: pd.Series) -> pd.Series:
        import numpy as np  # noqa: F401 — pre-import heavy deps in workers

        import geojson_spark.functions.cells  # noqa: F401

        return x

    spark.range(0, parts * 100, numPartitions=parts).withColumn(
        "y", _w(F.col("id").cast("double"))
    ).agg(F.sum("y")).collect()


def _calib_task(_i):
    """Pure single-threaded NumPy work (sort/sin — no BLAS threading):
    the unit of the host-ceiling probe."""
    import numpy as np

    rng = np.random.default_rng(1)
    x = rng.standard_normal(1_500_000)
    for _ in range(5):
        x = np.sort(x * 1.0001 + np.sin(x))
    return float(x[0])


def host_ceiling(p_lo: int, p_hi: int, n_tasks: int = 32) -> dict[str, float]:
    """Measure what THIS HOST currently permits for the same core pair:
    fixed pure-NumPy task set at p_lo and p_hi pinned processes. A shared
    host is sometimes throttled below 0.8 parallel efficiency all by
    itself; reporting the simultaneous ceiling separates engine scaling
    from host weather (engine_vs_host = engine eff / host eff)."""
    import multiprocessing as mp

    all_cpus = sorted(os.sched_getaffinity(0))
    out = {}
    try:
        for p in (p_lo, p_hi):
            os.sched_setaffinity(0, set(all_cpus[:p]))
            t0 = time.time()
            with mp.get_context("fork").Pool(p) as pool:
                pool.map(_calib_task, range(n_tasks))
            out[p] = time.time() - t0
    finally:
        os.sched_setaffinity(0, set(all_cpus))
    eff = (out[p_lo] / out[p_hi]) / (p_hi / p_lo)
    return {
        f"host_numpy_sec@{p_lo}": round(out[p_lo], 2),
        f"host_numpy_sec@{p_hi}": round(out[p_hi], 2),
        "host_ceiling_efficiency": round(eff, 3),
    }


def _scale_measurement(p: int, images_path: str, ckpt_dir: str, n_images: int) -> dict:
    """One pinned tiling measurement in a fresh subprocess (fresh JVM).

    The child is restricted to CPUs [0, p) before exec; the JVM and its
    Python workers inherit that affinity, so local[p] really means p cores.
    Session boot + worker warmup happen inside the child BEFORE timing.
    """
    import json as _json
    import subprocess
    import sys as _sys

    all_cpus = sorted(os.sched_getaffinity(0))
    cpus = set(all_cpus[:p])
    res = subprocess.run(
        [_sys.executable, os.path.abspath(__file__), "--scale-worker",
         str(p), images_path, ckpt_dir, str(n_images)],
        preexec_fn=lambda: os.sched_setaffinity(0, cpus),
        capture_output=True,
        text=True,
        timeout=3600,
    )
    if res.returncode != 0:
        raise RuntimeError(f"scale worker failed: {res.stderr[-2000:]}")
    return _json.loads(res.stdout.strip().splitlines()[-1])


def _scale_worker_main(p: int, images_path: str, ckpt_dir: str, n_images: int) -> None:
    import json as _json

    spark = _new_session(p, f"tile{p}")
    _warm_python_workers(spark, p)
    t0 = time.time()
    tiling_job(spark, images_path, ckpt_dir=ckpt_dir)
    wall = time.time() - t0
    lineage = spark.read.parquet(os.path.join(ckpt_dir, "lineage_s2_assign"))
    n_parts = lineage.count()
    assert lineage.agg({"rows": "sum"}).collect()[0][0] == n_images
    spark.stop()
    print(_json.dumps({"wall": wall, "lineage_partitions": n_parts}))


def _wait_for_quiet_host(max_wait_s: float, ceiling_pair: tuple[int, int] | None = None) -> dict:
    """Gate a timing phase on host health: poll the single-core NumPy probe
    until it lands within ~1.5× of the healthy baseline (~0.17 s on this
    host) or the wait budget runs out. Four rounds of driver benches all
    landed in throttle windows and published raw scaling numbers the host
    itself could not have met — cheaper to wait for weather than to
    normalize it away after the fact. The gate never blocks the bench
    forever: on timeout the measurement proceeds and the record says so.

    ``ceiling_pair=(p_lo, p_hi)`` additionally requires the HOST itself to
    scale p_lo→p_hi at ≥ the gate efficiency (default 0.85) right now —
    a quiet single core does not imply multi-core headroom on this
    hypervisor (the r5 first attempt: probe 0.2 s but host ceiling 0.43,
    so no engine number could have reached 0.8). Healthy windows are rare
    and short (one 108-minute poll saw none), so every poll is recorded."""
    healthy = float(os.environ.get("SPARK_GRAFT_HEALTHY_PROBE_S", "0.17"))
    factor = float(os.environ.get("SPARK_GRAFT_QUIET_FACTOR", "1.5"))
    min_ceiling = float(os.environ.get("SPARK_GRAFT_GATE_CEILING", "0.85"))
    t0 = time.time()
    polls: list[dict] = []
    while True:
        start = round(time.time() - t0, 1)
        probe = _probe()
        quiet = probe <= healthy * factor
        ceiling = None
        if quiet and ceiling_pair is not None:
            ceiling = host_ceiling(*ceiling_pair, n_tasks=16)["host_ceiling_efficiency"]
        met = quiet and (ceiling_pair is None or ceiling >= min_ceiling)
        polls.append({"t": start, "probe": probe, "ceiling": ceiling})
        waited = time.time() - t0
        if met or waited >= max_wait_s:
            return {"probe": probe, "ceiling": ceiling, "met": met, "polls": polls,
                    "waited_s": start if met else round(waited, 1)}
        time.sleep(min(15.0, max(1.0, max_wait_s - waited)))


def run_scaling(n_images: int, images_path: str | None = None) -> dict:
    """North-rule scaling evidence: the same tiling job at N and 4N cores.

    Default pair is (2, 8): raw-multiprocessing calibration shows this
    sandbox exposes 32 vCPUs but sustains only ~10-12 cores of parallel
    NumPy throughput (8→32 procs gives 1.5×, not 4× — hypervisor
    throttling), so 2→8 is the largest honest 4× the hardware supports.
    Override with SPARK_GRAFT_SCALE_PAIR=8,32 to measure the saturated pair.

    The image table is generated once (or read from ``images_path``),
    then the quiet-host gate polls across the whole
    SPARK_GRAFT_SCALE_BUDGET_S and exactly one pinned pair is measured:
    the first window whose gate is met, else one pair labelled
    ``"gate": "fallback"`` when the budget runs out. Worst-case wall:
    budget + one pair + probes.
    """
    from geojson_spark.sources.images import generate_images

    pair = os.environ.get("SPARK_GRAFT_SCALE_PAIR", "2,8")
    p_lo, p_hi = (int(v) for v in pair.split(","))
    budget_s = float(os.environ.get("SPARK_GRAFT_SCALE_BUDGET_S", "560"))

    tmp = tempfile.mkdtemp(prefix="bench_images_")
    out: dict = {}
    try:
        if images_path is None:
            images_path = os.path.join(tmp, "images")
            gen_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
            spark = _new_session(gen_cpus, "gen")
            t0 = time.time()
            generate_images(spark, n_images, skew=True, partitions=gen_cpus).write.mode(
                "overwrite"
            ).parquet(images_path)
            out["generate_sec"] = round(time.time() - t0, 2)
            spark.stop()

        # Unpinned local[N] is NOT an N-core cluster — the JVM's GC /
        # shuffle / Arrow threads soak extra cores, flattering the small
        # level and deflating efficiency. Each measurement runs in a
        # SUBPROCESS pinned (sched_setaffinity before exec, inherited by
        # its fresh JVM and Python workers) to exactly N CPUs, making the
        # "N vs 4N executors" emulation exact. Both levels run
        # back-to-back right after the gate, in the same weather window.
        gate = _wait_for_quiet_host(budget_s, ceiling_pair=(p_lo, p_hi))
        out["gate"] = "met" if gate["met"] else "fallback"
        out["gate_waited_s"] = gate["waited_s"]
        out["gate_polls"] = gate["polls"]
        out["pre_pair_ceiling"] = gate["ceiling"]
        walls = {}
        for p in (p_lo, p_hi):
            r = _scale_measurement(p, images_path, os.path.join(tmp, f"ckpt{p}"), n_images)
            walls[p] = r["wall"]
            out[f"images_tiled_per_sec@local[{p}]"] = round(n_images / r["wall"], 1)
            out[f"tiling_sec@local[{p}]"] = round(r["wall"], 2)
            out[f"lineage_partitions@local[{p}]"] = r["lineage_partitions"]
        out["cpu_pinned"] = True
        # the post-pair ceiling is the pair's own window's host ceiling
        out.update(host_ceiling(p_lo, p_hi))
        eff = round((walls[p_lo] / walls[p_hi]) / (p_hi / p_lo), 3)
        out[f"scaling_efficiency_{p_lo}_to_{p_hi}"] = eff
        ceiling = out.get("host_ceiling_efficiency")
        if ceiling:
            out["efficiency_vs_host_ceiling"] = round(eff / ceiling, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def summary_line(metric: str, sf, n_images: int, headline: dict, scaling: dict) -> str:
    """The compact last stdout line: per-query minimums, the first and last
    host probes and the scaling pair's headline numbers. The driver keeps
    only a 2000-byte tail, so everything else stays in the detail file."""
    probes = headline["host_probe_per_rep"]
    return json.dumps({
        "metric": metric,
        "value": round(sum(headline["queries"].values()), 3),
        "unit": "sec",
        "sf": sf,
        "n_images": n_images,
        "queries": headline["queries"],
        "host_probe_before_sec": probes[0],
        "host_probe_after_sec": probes[-1],
        **{k: v for k, v in scaling.items()
           if k.startswith(("images_tiled_per_sec@", "scaling_efficiency_"))
           or k in ("host_ceiling_efficiency", "gate")},
    }, separators=(",", ":"))


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description="Headline + scaling benchmark.")
    ap.add_argument("--ab", nargs="+", metavar="QUERY",
                    help="time only these headline queries (rep 0 is cold)")
    ap.add_argument("--reps", type=int, help="reps for --ab (default 3)")
    args = ap.parse_args(argv)
    if args.reps is not None and not args.ab:
        ap.error("--reps applies to --ab only (headline: SPARK_GRAFT_HEADLINE_REPS)")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_images = 0 if args.ab else int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "300000"))
    try:
        sf = float(sf_dir.rstrip("/").split("sf")[-1])
    except ValueError:
        # a non-sf<N> dir must not crash the print AFTER the whole
        # multi-minute run completed — report the raw path instead
        sf = sf_dir

    if args.ab:
        headline = run_headline(sf_dir, cpus, args.ab, args.reps or 3, skip_cold=True)
        metric = "per-query A/B: min over warm reps"
    else:
        headline = run_headline(sf_dir, cpus)
        metric = "headline queries + images-tiled/sec, pinned scaling pair"
    scaling = run_scaling(n_images) if n_images > 0 else {}

    line = summary_line(metric, sf, n_images, headline, scaling)
    detail = {**json.loads(line), **headline, **scaling}
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH", "bench_latest.json")
    with open(detail_path, "w", encoding="utf-8") as fh:
        json.dump(detail, fh, indent=1)
    print(line)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scale-worker":
        _scale_worker_main(
            int(sys.argv[2]), sys.argv[3], sys.argv[4], int(sys.argv[5])
        )
    else:
        main(sys.argv[1:])
