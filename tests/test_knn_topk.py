"""The shared kNN top-k core behind knn_join and knn_join_hex: exact
answers (ring-complete queries and the brute-force residual) and the
``exact=False`` ring answer, each against a NumPy brute force; the auto
ring's cell coarsening; and the plan shape of a sparse auto-ring join."""

from __future__ import annotations

import itertools
import math
import re

import numpy as np
import pandas as pd
import pytest

from geojson_spark.functions.geometry import haversine_km
from geojson_spark.operators.joins import _auto_ring, knn_join, knn_join_hex

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
