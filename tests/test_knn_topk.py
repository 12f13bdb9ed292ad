"""The shared kNN top-k core behind knn_join and knn_join_hex: exact
answers (ring-complete queries and the brute-force residual) and the
``exact=False`` ring answer, each against a NumPy brute force."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from geojson_spark.functions.geometry import haversine_km
from geojson_spark.operators.joins import knn_join, knn_join_hex

K = 5
GRID_COLS = ["q_id", "q_lon", "q_lat", "p_id", "p_lon", "p_lat", "dist_km", "rn"]
HEX_COLS = ["q_id", "p_id", "dist2", "rn"]

# Paris sits in a dense cluster and resolves inside its ring; lon 179.9 and
# lat 88.5 are wrap-unsafe for the haversine grid, which forces them down
# the brute-force residual
QUERIES = pd.DataFrame({"q_id": [0, 1, 2], "q_lon": [2.35, 179.9, 10.0],
                        "q_lat": [48.85, 0.0, 88.5]})


def _points() -> pd.DataFrame:
    rng = np.random.default_rng(5)
    lon = np.concatenate([rng.normal(2.35, 1.0, 800), rng.uniform(-180, 180, 600),
                          rng.uniform(179.0, 179.8, 50), rng.uniform(-180, -179.9, 50),
                          rng.uniform(-180, 180, 100)])
    lat = np.concatenate([rng.normal(48.85, 1.0, 800), rng.uniform(-85, 85, 600),
                          rng.uniform(-0.5, 0.5, 50), rng.uniform(-0.1, 0.1, 50),
                          rng.uniform(87.5, 89.9, 100)])
    return pd.DataFrame({"p_id": np.arange(lon.size), "p_lon": lon, "p_lat": lat})


def _dist(metric: str, q, pp: pd.DataFrame) -> np.ndarray:
    lon, lat = pp.p_lon.to_numpy(), pp.p_lat.to_numpy()
    if metric == "haversine":
        return haversine_km(np.full(lon.size, q.q_lon), np.full(lon.size, q.q_lat), lon, lat)
    return (lon - q.q_lon) ** 2 + (lat - q.q_lat) ** 2


CASES = {
    "grid-haversine": (knn_join, {"metric": "haversine"}, "haversine", GRID_COLS),
    "grid-deg2": (knn_join, {"metric": "euclidean_deg2"}, "deg2", GRID_COLS),
    # a fine fixed res: the sparse near-pole query misses its ring bound
    "hex": (knn_join_hex, {"res": 5, "ring": 1}, "deg2", HEX_COLS),
    "grid-deg2-ring-only": (knn_join, {"metric": "euclidean_deg2", "exact": False}, "deg2",
                            GRID_COLS),
    "hex-ring-only": (knn_join_hex, {"exact": False}, "deg2", HEX_COLS),
}


@pytest.mark.parametrize("case", list(CASES))
def test_knn_topk_vs_numpy(spark, case):
    fn, kwargs, metric, cols = CASES[case]
    exact = kwargs.get("exact", True)
    pp = _points()
    got = fn(spark.createDataFrame(QUERIES), spark.createDataFrame(pp), K, **kwargs).toPandas()
    assert list(got.columns) == cols
    dist_col = cols[-2]
    for _, q in QUERIES.iterrows():
        d = _dist(metric, q, pp)
        want = sorted(range(len(pp)), key=lambda i: (d[i], i))[:K]
        if metric == "haversine" and q.q_id == 1:
            # the true neighbours cross the antimeridian: a ring-only
            # answer could not contain them
            assert (pp.p_lon.to_numpy()[want] < 0).any()
        g = got[got.q_id == q.q_id].sort_values("rn")
        assert g.rn.tolist() == list(range(1, len(g) + 1))
        np.testing.assert_allclose(g[dist_col].to_numpy(), d[g.p_id.to_numpy()], rtol=1e-9)
        if exact or q.q_id == 0:
            assert g.p_id.tolist() == want, (case, q.q_id)
        else:
            # a ring answer is a top-k of a subset: never closer than the
            # true j-th neighbour
            assert len(g) <= K
            assert np.all(g[dist_col].to_numpy() >= d[want[: len(g)]] * (1 - 1e-12))
