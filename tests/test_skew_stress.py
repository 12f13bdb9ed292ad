"""Adversarial skew stress (VERDICT r4 item #3).

The skew story (AQE skew-join splitting + salted two-stage agg) was
previously exercised only at modest skew. Here one grid cell holds ~30%
of ALL points and the tests assert BOTH correctness vs a NumPy brute
force AND that the executed plan actually took the skew defense:
AQE's skew-split marker on the shuffled join, or the salt fan-out's
two-stage aggregate.

Broadcast thresholds are disabled inside the join tests: the engine's
first skew defense is broadcasting the small side (points never
shuffle), which would hide the shuffled-join path these tests target —
at 100 TB the polygon side can exceed any broadcast budget, and THAT
plan is the one that must survive a hot cell.
"""

from __future__ import annotations

import contextlib
import io

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

HOT_LON, HOT_LAT = 10.03, 20.07  # blob center, well inside one cpd=8 cell


def _skewed_points(n_total: int, hot_frac: float, seed: int = 7):
    """~hot_frac of points in a 0.02° blob (one cpd=8 cell), rest uniform
    over a 40°x40° region around it."""
    rng = np.random.default_rng(seed)
    n_hot = int(n_total * hot_frac)
    hot = rng.uniform(
        [HOT_LON - 0.01, HOT_LAT - 0.01], [HOT_LON + 0.01, HOT_LAT + 0.01],
        size=(n_hot, 2),
    )
    cold = rng.uniform(
        [HOT_LON - 20.0, HOT_LAT - 20.0], [HOT_LON + 20.0, HOT_LAT + 20.0],
        size=(n_total - n_hot, 2),
    )
    return np.vstack([hot, cold])


def _rects():
    """One rect over the hot blob + background rects; edges avoid every
    generated coordinate (measure-zero boundaries)."""
    specs = [
        (0, HOT_LON - 0.515, HOT_LAT - 0.515, 1.03),   # swallows the blob
        (1, HOT_LON + 3.115, HOT_LAT - 6.115, 2.23),
        (2, HOT_LON - 11.515, HOT_LAT + 4.885, 3.03),
        (3, HOT_LON - 0.315, HOT_LAT - 14.115, 4.43),
        (4, HOT_LON + 8.885, HOT_LAT + 8.885, 1.53),
        (5, HOT_LON - 17.515, HOT_LAT - 17.515, 5.03),
    ]
    return [
        {
            "poly_id": pid,
            "coords": [x0, y0, x0 + s, y0, x0 + s, y0 + s, x0, y0 + s, x0, y0],
            "ring_offsets": [0, 5],
            "dim": 2,
            "bbox": [x0, y0, x0 + s, y0 + s],
        }
        for pid, x0, y0, s in specs
    ]


@contextlib.contextmanager
def _skew_confs(spark):
    """Aggressive AQE skew thresholds sized to test data + broadcast off;
    restores every conf afterwards (session fixture is shared)."""
    want = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # scaled to the test's data volume the way a real deployment sizes
        # them to executor memory (defaults are 256M/64M — the 40k-point
        # fixture's hot partition is ~0.5 MB, so thresholds shrink with it)
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in want.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _final_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pip_join_hotcell_skew_split_and_bruteforce(spark):
    """30% of all points in ONE cell; shuffled (non-broadcast) pip_join
    must produce exact brute-force pairs AND its executed plan must show
    AQE's skew-split on the join."""
    from geojson_spark.operators.joins import pip_join

    xy = _skewed_points(40_000, 0.30)
    pts = spark.createDataFrame(
        pd.DataFrame({"p_id": np.arange(len(xy)), "lon": xy[:, 0], "lat": xy[:, 1]})
    )
    rects = _rects()
    polys = spark.createDataFrame(pd.DataFrame(rects))

    with _skew_confs(spark):
        # explain the EXACT DataFrame that was executed — a parent/child
        # frame has its own (unexecuted) AdaptiveSparkPlan
        out = pip_join(pts, polys, broadcast_polygons=False).select("p_id", "poly_id")
        rows = out.collect()
        plan = _final_plan(out)

    got = {}
    for r in rows:
        got[r.poly_id] = got.get(r.poly_id, 0) + 1
    exp = {}
    for rect in rects:
        x0, y0, x1, y1 = rect["bbox"]
        inside = (xy[:, 0] > x0) & (xy[:, 0] < x1) & (xy[:, 1] > y0) & (xy[:, 1] < y1)
        exp[rect["poly_id"]] = int(inside.sum())
    assert {k: v for k, v in exp.items() if v} == got
    assert exp[0] >= 12_000  # the hot rect really absorbed the blob
    # pair-level spot check (not just counts): hot-rect membership exact
    hot_ids = {int(i) for i in np.where(
        (xy[:, 0] > rects[0]["bbox"][0]) & (xy[:, 0] < rects[0]["bbox"][2])
        & (xy[:, 1] > rects[0]["bbox"][1]) & (xy[:, 1] < rects[0]["bbox"][3])
    )[0]}
    assert {r.p_id for r in rows if r.poly_id == 0} == hot_ids

    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, f"no AQE skew split in executed plan:\n{plan[-3000:]}"


def test_distance_join_hotcell_skew_split_and_bruteforce(spark, monkeypatch):
    """Queries ringed against a 30%-hot point table: exact pair parity vs
    NumPy on both paths, and the skew-split marker on the executed
    shuffled join of the Spark path (300 queries would otherwise take the
    small query side's Arrow pass, which has no join to split)."""
    from geojson_spark.operators import joins as joins_mod
    from geojson_spark.operators.joins import distance_join

    xy = _skewed_points(40_000, 0.30, seed=13)
    # 300 queries, half of them INSIDE the hot blob (the worst case: their
    # rings all land on the hot cell)
    rng = np.random.default_rng(29)
    q_hot = rng.uniform(
        [HOT_LON - 0.01, HOT_LAT - 0.01], [HOT_LON + 0.01, HOT_LAT + 0.01], (150, 2)
    )
    q_cold = rng.uniform(
        [HOT_LON - 19, HOT_LAT - 19], [HOT_LON + 19, HOT_LAT + 19], (150, 2)
    )
    q = np.vstack([q_hot, q_cold])
    radius = 0.05

    pts = spark.createDataFrame(
        pd.DataFrame({"p_id": np.arange(len(xy)), "p_lon": xy[:, 0], "p_lat": xy[:, 1]})
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"q_id": np.arange(len(q)), "q_lon": q[:, 0], "q_lat": q[:, 1]})
    )

    small = distance_join(queries, pts, radius=radius).select("q_id", "p_id").collect()
    monkeypatch.setattr(joins_mod, "_SMALL_SIDE_ROWS", 0)
    with _skew_confs(spark):
        out = distance_join(queries, pts, radius=radius).select("q_id", "p_id")
        rows = out.collect()
        plan = _final_plan(out)

    got = {(r.q_id, r.p_id) for r in rows}
    d2 = ((q[:, None, :] - xy[None, :, :]) ** 2).sum(-1)
    qi, pi = np.where(d2 <= radius * radius)
    exp = {(int(a), int(b)) for a, b in zip(qi, pi)}
    assert got == exp
    assert len(small) == len(exp) and {(r.q_id, r.p_id) for r in small} == exp
    assert len(exp) > 50_000  # the hot queries × hot blob really stress it

    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, f"no AQE skew split in executed plan:\n{plan[-3000:]}"


def test_dbscan_hotcell_matches_bruteforce(spark):
    """DBSCAN over a 40%-hot fixture matches the full NumPy reference
    (neighbor matrix → core → BFS components → border assignment).
    dbscan rides distance_join, whose skew defense the test above pins."""
    from geojson_spark.operators.clustering import dbscan

    xy = _skewed_points(2_500, 0.40, seed=3)
    eps, min_pts = 0.004, 4

    d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(-1)
    nbr = d2 <= eps * eps
    core = nbr.sum(1) >= min_pts
    label: dict[int, int] = {}
    for i in np.where(core)[0]:
        if i in label:
            continue
        stack, comp, seen = [int(i)], [], {int(i)}
        while stack:
            u = stack.pop()
            comp.append(u)
            for v in np.where(nbr[u] & core)[0]:
                if int(v) not in seen:
                    seen.add(int(v))
                    stack.append(int(v))
        m = min(comp)
        for u in comp:
            label[u] = m
    expected = {}
    for i in range(len(xy)):
        if core[i]:
            expected[i] = (label[i], 1)
        else:
            cn = [label[j] for j in np.where(nbr[i] & core)[0] if j != i]
            expected[i] = (min(cn), 0) if cn else (-1, 0)

    pts = spark.createDataFrame(
        [Row(p_id=i, lon=float(x), lat=float(y)) for i, (x, y) in enumerate(xy)]
    )
    got = {
        r.p_id: (r.cluster_id, r.is_core)
        for r in dbscan(pts, eps=eps, min_pts=min_pts).collect()
    }
    assert got == expected


def test_salted_agg_hotkey_matches_and_fans_out(spark):
    """A key holding 30% of rows through salted_agg: counts equal the
    plain groupBy and the plan shows the two-stage salt fan-out (two
    aggregate exchanges: (key, salt) then key)."""
    from geojson_spark.operators.agg import salted_agg

    xy = _skewed_points(50_000, 0.30, seed=21)
    df = spark.createDataFrame(
        pd.DataFrame({
            "image_id": np.arange(len(xy)).astype(str),
            # key = the containing cpd=8 cell → one cell owns 30% of rows
            "cell": (np.floor((xy[:, 0] + 180) * 8) * 4096
                     + np.floor((xy[:, 1] + 90) * 8)).astype(np.int64),
        })
    )
    out = salted_agg(df, "cell", {"n": ("count", "image_id")})
    exp = {r.cell: r.n for r in df.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    got = {r.cell: r.n for r in out.collect()}
    assert got == exp
    assert max(exp.values()) >= 15_000

    plan = _final_plan(out)
    # stage 1 partial agg keyed by (cell, _salt), stage 2 by cell alone
    assert plan.count("HashAggregate") >= 4  # partial+final × two stages
    assert "_salt" in plan
    # the hot key's rows really spread: stage-1 output has ≥ n_salts rows
    # for the hot cell (the fan-out is the defense, not a plan cosmetic)
    hot_cell = max(exp, key=lambda k: exp[k])
    from geojson_spark.functions.spark_funcs import salt

    stage1 = (
        df.withColumn("_salt", salt(F.col("image_id"), 16))
        .where(F.col("cell") == int(hot_cell))
        .select("_salt").distinct().count()
    )
    assert stage1 == 16
