"""The kNN top-k behind knn_join and knn_join_hex: exact answers
(ring-complete queries and the brute-force residual) and the
``exact=False`` ring answer, each against a NumPy brute force; the auto
ring's cell coarsening; the plan shape of a sparse auto-ring join; and the
small query side's driver-planned Arrow pass (also distance_join's)
against the Spark path, value for value and schema for schema."""

from __future__ import annotations

import itertools
import math
import re
from unittest import mock

import numpy as np
import pandas as pd
import pytest

from geojson_spark.functions.geometry import haversine_km
from geojson_spark.operators import joins as joins_mod
from geojson_spark.operators.joins import _auto_ring, distance_join, knn_join, knn_join_hex

K = 5
GRID_COLS = ["q_id", "q_lon", "q_lat", "p_id", "p_lon", "p_lat", "dist_km", "rn"]
HEX_COLS = ["q_id", "p_id", "dist2", "rn"]

# Paris sits in a dense cluster and resolves inside its ring; lon 179.9 and
# lat 88.5 are wrap-unsafe for the haversine grid, which forces them down
# the brute-force residual
QUERIES = pd.DataFrame({"q_id": [0, 1, 2], "q_lon": [2.35, 179.9, 10.0],
                        "q_lat": [48.85, 0.0, 88.5]})


def _mixed() -> pd.DataFrame:
    rng = np.random.default_rng(5)
    lon = np.concatenate([rng.normal(2.35, 1.0, 800), rng.uniform(-180, 180, 600),
                          rng.uniform(179.0, 179.8, 50), rng.uniform(-180, -179.9, 50),
                          rng.uniform(-180, 180, 100)])
    lat = np.concatenate([rng.normal(48.85, 1.0, 800), rng.uniform(-85, 85, 600),
                          rng.uniform(-0.5, 0.5, 50), rng.uniform(-0.1, 0.1, 50),
                          rng.uniform(87.5, 89.9, 100)])
    return pd.DataFrame({"p_id": np.arange(lon.size), "p_lon": lon, "p_lat": lat})


def _uniform(n: int, seed: int = 9) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    return pd.DataFrame({"p_id": np.arange(n), "p_lon": rng.uniform(-180, 180, n),
                         "p_lat": rng.uniform(-85, 85, n)})


def _hotspot() -> pd.DataFrame:
    # 19,000 points within ±0.01° of the Paris query: one dense cell under
    # cells sized for the global density
    rng = np.random.default_rng(13)
    pp = _uniform(20_000)
    pp.loc[:18_999, "p_lon"] = 2.35 + rng.uniform(-0.01, 0.01, 19_000)
    pp.loc[:18_999, "p_lat"] = 48.85 + rng.uniform(-0.01, 0.01, 19_000)
    return pp


# point set -> (builder, the cpd knn_join's auto ring settles on for K)
POINT_SETS = {
    "mixed": (_mixed, 1 / 4),
    "n0": (lambda: _uniform(0), 1 / 64),
    "n3": (lambda: _uniform(3), 1 / 64),
    "n200": (lambda: _uniform(200), 1 / 16),
    "n5000": (lambda: _uniform(5000), 1 / 2),
    "hotspot": (_hotspot, 1),
}


def _dist(metric: str, q, pp: pd.DataFrame) -> np.ndarray:
    lon, lat = pp.p_lon.to_numpy(), pp.p_lat.to_numpy()
    if metric == "haversine":
        return haversine_km(np.full(lon.size, q.q_lon), np.full(lon.size, q.q_lat), lon, lat)
    return (lon - q.q_lon) ** 2 + (lat - q.q_lat) ** 2


CASES = {
    "grid-haversine": (knn_join, {"metric": "haversine"}, "haversine", GRID_COLS, "mixed"),
    "grid-deg2": (knn_join, {"metric": "euclidean_deg2"}, "deg2", GRID_COLS, "mixed"),
    # a fine fixed res: the sparse near-pole query misses its ring bound
    "hex": (knn_join_hex, {"res": 5, "ring": 1}, "deg2", HEX_COLS, "mixed"),
    "grid-deg2-ring-only": (knn_join, {"metric": "euclidean_deg2", "exact": False}, "deg2",
                            GRID_COLS, "mixed"),
    "hex-ring-only": (knn_join_hex, {"exact": False}, "deg2", HEX_COLS, "mixed"),
}
# the auto ring at every cell level it reaches, down to the 64° floor
for _name, _metric in itertools.product(list(POINT_SETS)[1:], ("haversine", "euclidean_deg2")):
    CASES[f"grid-{_metric}-{_name}"] = (knn_join, {"metric": _metric},
                                        "haversine" if _metric == "haversine" else "deg2",
                                        GRID_COLS, _name)


@pytest.mark.parametrize("case", list(CASES))
def test_knn_topk_vs_numpy(spark, case):
    fn, kwargs, metric, cols, points = CASES[case]
    exact = kwargs.get("exact", True)
    build, level = POINT_SETS[points]
    pp = build()
    if fn is knn_join:
        assert _auto_ring(len(pp), K, 8)[1] == level
    got = fn(spark.createDataFrame(QUERIES),
             spark.createDataFrame(pp, "p_id long, p_lon double, p_lat double"),
             K, **kwargs).toPandas()
    assert list(got.columns) == cols
    dist_col = cols[-2]
    for _, q in QUERIES.iterrows():
        d = _dist(metric, q, pp)
        want = sorted(range(len(pp)), key=lambda i: (d[i], i))[:K]
        if metric == "haversine" and q.q_id == 1 and points == "mixed":
            # the true neighbours cross the antimeridian: a ring-only
            # answer could not contain them
            assert (pp.p_lon.to_numpy()[want] < 0).any()
        g = got[got.q_id == q.q_id].sort_values("rn")
        assert g.rn.tolist() == list(range(1, len(g) + 1))
        np.testing.assert_allclose(g[dist_col].to_numpy(np.float64),
                                   d[g.p_id.to_numpy(np.int64)], rtol=1e-9)
        if exact or q.q_id == 0:
            assert g.p_id.tolist() == want, (case, q.q_id)
        else:
            # a ring answer is a top-k of a subset: never closer than the
            # true j-th neighbour
            assert len(g) <= K
            assert np.all(g[dist_col].to_numpy() >= d[want[: len(g)]] * (1 - 1e-12))


def test_auto_ring_coarsens_cells_within_bounds():
    # the sizing stays bounded on degenerate sides (no points, fewer than
    # k) and on dense ones; the ring never exceeds 4 cells
    assert _auto_ring(40_000, 10, 8) == (4, 1.0)
    assert _auto_ring(10**9, 10, 8) == (1, 8)
    for n, k, cpd in itertools.product((0, 1, 3, 200, 40_000, 10**6, 10**12),
                                       (1, 10, 1000), (8, 3, 1, 1 / 64)):
        ring, got = _auto_ring(n, k, cpd)
        assert 1 <= ring <= 4, (n, k, cpd)
        halvings = math.log2(cpd / got)
        assert halvings >= 0 and halvings == int(halvings), (n, k, cpd, got)
        assert got >= 1 / 64, (n, k, cpd)

        def reaches(r, c):  # (2r+1)² cells hold ≥ 4k points
            return (2 * r + 1) ** 2 * n / ((360 * c) * (180 * c)) >= 4 * k * (1 - 1e-12)

        floor = got / 2 < 1 / 64
        assert reaches(ring, got) or (floor and ring == 4), (n, k, cpd)
        if got < cpd:  # a finer cell would have needed a ring beyond 4
            assert not reaches(4, 2 * got), (n, k, cpd)


def _plan_nodes(df) -> list[tuple[str, int | None, str | None]]:
    """(name, output rows, join type) of each node of ``df``'s executed
    (final adaptive) plan."""
    out = []

    def visit(p) -> None:
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return visit(p.finalPhysicalPlan())
        if cls.endswith("QueryStageExec"):
            return visit(p.plan())
        rows = p.metrics().get("numOutputRows")
        join = p.joinType().toString() if "Join" in p.nodeName() else None
        out.append((p.nodeName(), rows.get().value() if rows.isDefined() else None, join))
        children = p.children().iterator()
        while children.hasNext():
            visit(children.next())

    visit(df._jdf.queryExecution().executedPlan())
    return out


def test_knn_sparse_auto_ring_plan_shape(spark, monkeypatch):
    # Uniform points at a sparse density (~0.65 per square degree): the
    # auto ring coarsens the cells rather than widening the ring, so each
    # query broadcasts at most 9x9 ring cells and every query resolves
    # inside its ring; completeness is a window over the re-rank, not a
    # count/max aggregate with its own exchange.
    rng = np.random.default_rng(11)
    n, nq, k = 40_000, 120, 10
    pts = spark.createDataFrame(pd.DataFrame({
        "p_id": np.arange(n), "p_lon": rng.uniform(-180, 180, n),
        "p_lat": rng.uniform(-85, 85, n)}))
    qs = spark.createDataFrame(pd.DataFrame({
        "q_id": np.arange(nq), "q_lon": rng.uniform(-170, 170, nq),
        "q_lat": rng.uniform(-75, 75, nq)}))
    checkpointed = []
    cls = type(pts)
    original = cls.localCheckpoint

    def recording(self, *args, **kwargs):
        checkpointed.append(self)
        return original(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    monkeypatch.setattr(joins_mod, "_SMALL_SIDE_ROWS", 0)  # the Spark path's plan
    out = knn_join(qs, pts, k, metric="euclidean_deg2")
    monkeypatch.undo()
    assert len(out.collect()) == nq * k
    (topk,) = checkpointed  # eager: already executed
    ring_rows = [rows for name, rows, _ in _plan_nodes(topk) if name == "BroadcastExchange"]
    assert ring_rows and max(ring_rows) <= 81 * nq, ring_rows
    anti = [rows for name, rows, join in _plan_nodes(out) if join == "LeftAnti"]
    assert sum(r or 0 for r in anti) == 0, anti  # AQE may prune the empty branch
    plans = "\n".join(d._jdf.queryExecution().executedPlan().toString() for d in (topk, out))
    assert not re.search(r"HashAggregate.*(count\(1\)|max\(dist_km)", plans)
    assert re.search(r"Window \[count\(1\) windowspecdefinition\(q_id", plans)


# ---------------------------------------------------------------------------
# small query sides: one Arrow pass, equal to the Spark path
# ---------------------------------------------------------------------------


def _both_paths(fn, queries, points, *args, **kwargs):
    """(small path, Spark path) frames of one call."""
    small = fn(queries, points, *args, **kwargs)
    with mock.patch.object(joins_mod, "_SMALL_SIDE_ROWS", -1):  # an empty side too
        large = fn(queries, points, *args, **kwargs)
    return small, large


def _assert_same(small, large, paths: bool = True):
    if paths:  # (the Spark path checkpoints an empty side to an empty relation)
        plans = [df._jdf.queryExecution().analyzed().toString() for df in (small, large)]
        assert "Join" not in plans[0] and "Join" in plans[1]
    assert small.schema == large.schema
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    got, want = sorted(small.collect(), key=key), sorted(large.collect(), key=key)
    assert got == want
    return got


def _with_ties(pp: pd.DataFrame) -> pd.DataFrame:
    # five copies of one spot by Paris, under shuffled ids: ties at equal
    # distance resolve by p_id
    extra = pd.DataFrame({"p_id": [len(pp) + i for i in (4, 0, 3, 1, 2)],
                          "p_lon": [2.36] * 5, "p_lat": [48.86] * 5})
    return pd.concat([pp, extra], ignore_index=True)


SMALL_CASES = {
    "grid-auto": (knn_join, {"metric": "euclidean_deg2"}),
    "grid-ring1": (knn_join, {"metric": "euclidean_deg2", "ring": 1, "cpd": 2}),
    "grid-ring-only": (knn_join, {"metric": "euclidean_deg2", "exact": False}),
    "hex-auto": (knn_join_hex, {}),
    # a fine fixed res: the sparse queries fail the bound, the residual fires
    "hex-res5": (knn_join_hex, {"res": 5, "ring": 1}),
    "hex-ring-only": (knn_join_hex, {"exact": False}),
}


@pytest.mark.parametrize("points", ["mixed", "hotspot", "n0", "n3"])
@pytest.mark.parametrize("case", list(SMALL_CASES))
def test_knn_small_side_equals_spark_path(spark, case, points):
    fn, kwargs = SMALL_CASES[case]
    pp = _with_ties(POINT_SETS[points][0]())
    small, large = _both_paths(fn, spark.createDataFrame(QUERIES),
                               spark.createDataFrame(pp, "p_id long, p_lon double, p_lat double"),
                               K, **kwargs)
    got = _assert_same(small, large)
    assert len(got) == (3 * K if kwargs.get("exact", True) and len(pp) >= K else len(got))


@pytest.mark.parametrize("fn,kwargs", [(knn_join, {"metric": "euclidean_deg2"}),
                                       (knn_join_hex, {"res": 5, "ring": 1})])
def test_knn_small_side_string_ids_and_ties(spark, fn, kwargs):
    # string ids order by their bytes, not by the numbers inside them
    pp = _with_ties(_mixed())
    pp["p_id"] = [f"img{(7 * i) % 10007:d}" for i in pp.p_id]
    small, large = _both_paths(fn, spark.createDataFrame(QUERIES), spark.createDataFrame(pp),
                               K, **kwargs)
    got = _assert_same(small, large)
    paris = [r for r in got if r.q_id == 0]
    assert len(paris) == K and len({r.p_id for r in paris}) == K


@pytest.mark.parametrize("fn,kwargs", [(knn_join, {"metric": "euclidean_deg2"}),
                                       (knn_join_hex, {}),
                                       (distance_join, {"radius": 1.0})])
def test_ring_join_small_side_empty_queries(spark, fn, kwargs):
    qs = spark.createDataFrame(QUERIES.iloc[:0], "q_id long, q_lon double, q_lat double")
    pts = spark.createDataFrame(_mixed())
    args = () if fn is distance_join else (K,)
    small, large = _both_paths(fn, qs, pts, *args, **kwargs)
    assert _assert_same(small, large, paths=False) == []


@pytest.mark.parametrize("points", ["mixed", "hotspot", "n0", "n3"])
@pytest.mark.parametrize("radius,max_ring", [(0.5, 32), (2.0, 32), (2.0, 4)])
def test_distance_join_small_side_equals_spark_path(spark, points, radius, max_ring):
    # radius 2.0 at cpd 8 needs ring 17: over a max_ring of 4, every
    # query is brute force
    pp = _with_ties(POINT_SETS[points][0]())
    small, large = _both_paths(distance_join, spark.createDataFrame(QUERIES),
                               spark.createDataFrame(pp), radius, max_ring=max_ring)
    got = _assert_same(small, large)
    d = _dist("deg2", QUERIES.iloc[0], pp)
    assert sum(r.q_id == 0 for r in got) == int((d <= radius * radius).sum())


def test_knn_small_side_pair_slices(spark, monkeypatch):
    # the hotspot puts ~19k candidates on the Paris query: slices of 64
    # pairs split every batch and every point's run, with the same answer
    qs = spark.createDataFrame(QUERIES)
    pts = spark.createDataFrame(_hotspot())
    want = {}
    for chunk in (joins_mod._PAIR_CHUNK, 64):
        monkeypatch.setattr(joins_mod, "_PAIR_CHUNK", chunk)
        for fn, kwargs in ((knn_join, {"metric": "euclidean_deg2"}), (knn_join_hex, {})):
            rows = sorted(map(tuple, fn(qs, pts, K, **kwargs).collect()))
            assert want.setdefault(fn.__name__, rows) == rows
        rows = sorted(map(tuple, distance_join(qs, pts, 0.01).collect()))
        assert want.setdefault("distance", rows) == rows
    assert len(want["distance"]) > 10_000


def _job_ids(sc):
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup())


@pytest.mark.parametrize("fn,kwargs", [(knn_join, {"metric": "euclidean_deg2"}),
                                       (knn_join_hex, {}),
                                       (distance_join, {})])
def test_ring_join_small_side_plan(spark, monkeypatch, fn, kwargs):
    # one Arrow pass over the points: no exchange but the auto sizing's
    # count, no Python UDF, no checkpoint; count + pass + output collect
    from perfbench.spans import Tracer

    rng = np.random.default_rng(11)
    n, nq = 40_000, 120
    pts = spark.createDataFrame(pd.DataFrame({
        "p_id": np.arange(n), "p_lon": rng.uniform(-180, 180, n),
        "p_lat": rng.uniform(-85, 85, n)}))
    qs = spark.createDataFrame(pd.DataFrame({
        "q_id": np.arange(nq), "q_lon": rng.uniform(-170, 170, nq),
        "q_lat": rng.uniform(-75, 75, nq)}))
    monkeypatch.setattr(type(pts), "localCheckpoint", mock.Mock(side_effect=AssertionError))
    args = (0.5,) if fn is distance_join else (10,)
    tracer = Tracer(spark, plans=True)
    before = _job_ids(spark.sparkContext)
    try:
        with tracer.span("join") as rec:
            rows = fn(qs, pts, *args, **kwargs).collect()
    finally:
        tracer.close()
    assert len(_job_ids(spark.sparkContext) - before) <= (2 if fn is distance_join else 3)
    names = [name for a in rec["actions"] for name, _ in a["rows"]]
    assert sum(a["exchanges"] for a in rec["actions"]) == (0 if fn is distance_join else 1)
    assert [n for n in names if n.startswith("MapInArrow")] == ["MapInArrow"]
    assert not [n for n in names if n.startswith(("ArrowEvalPython", "BatchEvalPython"))]
    assert len(rows) == (nq * 10 if fn is not distance_join else len(rows))


@pytest.mark.parametrize("path", ["small", "spark"])
@pytest.mark.parametrize("fn,kwargs", [(knn_join, {"metric": "euclidean_deg2"}),
                                       (knn_join, {"metric": "haversine"}),
                                       (knn_join_hex, {"res": 5, "ring": 1})])
def test_knn_never_returns_points_without_coordinates(spark, monkeypatch, path, fn, kwargs):
    # a null or NaN distance is no neighbour: Spark sorts nulls first, so
    # the null-lon point used to come back at rn 1 for a query that fell
    # to the brute-force residual, pushing out the true third neighbour
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    rng = np.random.default_rng(3)
    lon, lat = rng.uniform(-10, 10, 400), rng.uniform(-10, 10, 400)
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))]
    rows += [(1000, None, 0.0), (1001, float("nan"), 0.0)]
    schema = StructType([StructField("p_id", LongType()), StructField("p_lon", DoubleType()),
                         StructField("p_lat", DoubleType())])
    pts = spark.createDataFrame(rows, schema)
    qs = spark.createDataFrame(pd.DataFrame({"q_id": [0, 1], "q_lon": [-170.0, 0.0],
                                             "q_lat": [0.0, 0.0]}))
    if path == "spark":
        monkeypatch.setattr(joins_mod, "_SMALL_SIDE_ROWS", 0)
    got = fn(qs, pts, 3, **kwargs).toPandas()
    for q_id, qx, qy in ((0, -170.0, 0.0), (1, 0.0, 0.0)):
        if kwargs.get("metric") == "haversine":
            d = haversine_km(np.full(lon.size, qx), np.full(lon.size, qy), lon, lat)
        else:
            d = (lon - qx) ** 2 + (lat - qy) ** 2
        g = got[got.q_id == q_id].sort_values("rn")
        assert g.p_id.tolist() == np.lexsort((np.arange(lon.size), d))[:3].tolist(), q_id


def _spread(spark, n: int, parts: int):
    # n points in ±20° over `parts` partitions, with no exchange to undo
    from pyspark.sql import functions as F

    i = F.col("id")
    return spark.range(0, n, 1, numPartitions=parts).select(
        i.alias("p_id"), (i * 0.37 % 40.0 - 20.0).alias("p_lon"),
        (i * 0.61 % 40.0 - 20.0).alias("p_lat"))


def _small(df) -> bool:
    return "Join" not in df._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize("fn,kwargs", [(knn_join, {"metric": "euclidean_deg2", "ring": 1}),
                                       (knn_join_hex, {"res": 5, "ring": 1})])
def test_knn_small_side_bounds_the_driver_merge(spark, monkeypatch, fn, kwargs):
    # each task yields up to rows·k rows and the driver merges them all:
    # the small path runs only while partitions·rows·k fits the pair chunk
    qs = spark.createDataFrame(QUERIES)
    monkeypatch.setattr(joins_mod, "_PAIR_CHUNK", 3 * K * 8)
    for parts, small in ((8, True), (9, False), (64, False)):
        pts = _spread(spark, 4000, parts)
        out = fn(qs, pts, K, **kwargs)
        assert _small(out) is small, parts
        monkeypatch.setattr(joins_mod, "_SMALL_SIDE_ROWS", -1)
        want = fn(qs, pts, K, **kwargs)
        monkeypatch.setattr(joins_mod, "_SMALL_SIDE_ROWS", 2048)
        assert out.schema == want.schema
        assert sorted(out.collect()) == sorted(want.collect())


def test_ring_join_small_side_bounds_the_ring_table(spark, monkeypatch):
    # the ring table rides in every task's closure: rows·cells must fit the
    # pair chunk, or the side goes through Spark. The auto ring's 81 cells
    # and hex ring 2's 19 fit at the full side.
    assert joins_mod._SMALL_SIDE_ROWS * max(81, 19) <= joins_mod._PAIR_CHUNK
    qs = spark.createDataFrame(QUERIES)
    pts = _spread(spark, 4000, 4)
    monkeypatch.setattr(joins_mod, "_PAIR_CHUNK", 1000)
    cases = [
        (distance_join, 0.5, {}, True),                 # ring 5: 3·121 cells
        (distance_join, 1.5, {}, False),                # ring 13: 3·729 cells
        (distance_join, 1.5, {"max_ring": 4}, True),    # brute force: 3 entries
        (knn_join, K, {"metric": "euclidean_deg2", "ring": 1}, True),
        (knn_join, K, {"metric": "euclidean_deg2", "ring": 10}, False),  # 3·441
        (knn_join_hex, K, {"res": 5, "ring": 2}, True),
        (knn_join_hex, K, {"res": 5, "ring": 15}, False),  # 3·721
    ]
    for fn, arg, kwargs, small in cases:
        out = fn(qs, pts, arg, **kwargs)
        assert _small(out) is small, (fn.__name__, arg, kwargs)
        if small:
            _assert_same(*_both_paths(fn, qs, pts, arg, **kwargs))


@pytest.mark.parametrize("fn,kwargs", [(knn_join, {"metric": "euclidean_deg2"}),
                                       (knn_join_hex, {"res": 5, "ring": 1})])
def test_knn_repeated_and_null_query_ids(spark, fn, kwargs):
    # a repeated q_id pools its rows' candidates on both paths (the small
    # path hands such a side to Spark); a null q_id is one query, answered
    # once — the residual's anti-join used to miss it and add its brute
    # force answer to the complete one
    pts = spark.createDataFrame(_mixed())
    dup = spark.createDataFrame(pd.DataFrame({"q_id": [0, 0, 1], "q_lon": [2.35, 10.0, 0.0],
                                              "q_lat": [48.85, 20.0, 0.0]}))
    small, large = _both_paths(fn, dup, pts, K, **kwargs)
    assert not _small(small)
    _assert_same(small, large, paths=False)
    null = spark.createDataFrame(
        [(None, 2.35, 48.85), (1, 10.0, 20.0)], "q_id long, q_lon double, q_lat double")
    got = _assert_same(*_both_paths(fn, null, pts, K, **kwargs))
    assert sorted(r.rn for r in got if r.q_id is None) == list(range(1, K + 1))
