"""Tests of the benchmark itself: seeded generators, output checkers and a
tiny end-to-end smoke run of every workload.

    python -m pytest perfbench -q
"""

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from workloads import SIZES, GeojsonIO, SpatialQuery, Tiling  # noqa: E402

SMOKE = SIZES["smoke"]


def _spatial(tmp_path, seed):
    return SpatialQuery(SMOKE["spatial_query"], str(tmp_path), seed)


def test_spatial_inputs_deterministic_per_seed(tmp_path):
    a, b, c = (_spatial(tmp_path, s).inputs() for s in (7, 7, 8))
    for x, y in zip(a, b):
        np.testing.assert_array_equal(x, y)
    assert not np.array_equal(a[0], c[0])
    assert not np.array_equal(a[2], c[2])


def test_geojson_features_deterministic_per_seed(tmp_path):
    def feats(seed):
        return GeojsonIO(SMOKE["geojson_io"], str(tmp_path), seed).features()

    assert feats(3) == feats(3)
    assert feats(3) != feats(4)


def test_tiling_squares_deterministic_per_seed(tmp_path):
    def squares(seed):
        return Tiling(SMOKE["tiling"], str(tmp_path), seed).hotspot_squares()

    np.testing.assert_array_equal(squares(5), squares(5))
    assert not np.array_equal(squares(5), squares(6))


def _spatial_outputs(exp: dict) -> dict:
    """Outputs exactly as a correct engine run would return them."""
    knn = pd.DataFrame(exp["knn"], columns=["q_id", "rn", "p_id"])
    return {
        "pip_counts": dict(exp["pip_counts"]),
        "knn": knn,
        "knn_hex": knn.copy(),
        "distance_pairs": exp["distance_pairs"].copy(),
        "tiles": exp["tiles"].copy(),
    }


def test_spatial_checker_flags_corrupted_outputs(tmp_path):
    wl = _spatial(tmp_path, 1)
    exp = wl.expected()
    assert wl.check(_spatial_outputs(exp), exp) == []

    dropped = _spatial_outputs(exp)  # one PIP row lost: one count is short
    poly = next(k for k, v in dropped["pip_counts"].items() if v)
    dropped["pip_counts"][poly] -= 1
    assert wl.check(dropped, exp)

    swapped = _spatial_outputs(exp)
    knn = swapped["knn"]
    i = int(np.flatnonzero(knn["p_id"].to_numpy() != knn["p_id"].iloc[0])[0])
    knn.loc[[0, i], "p_id"] = knn.loc[[i, 0], "p_id"].to_numpy()
    assert wl.check(swapped, exp)


def test_tiling_checker_flags_corrupted_outputs(tmp_path):
    wl = Tiling(SMOKE["tiling"], str(tmp_path), 1)
    exp = {"hotspot_counts": {"p0000": 5, "p0001": 3, "p0002": 0},
           "tiles": np.array([[10, 4], [11, 4]]), "rows": 8}
    good = {"bad": 0, "hotspot_counts": {"p0000": 5, "p0001": 3},
            "tiles": exp["tiles"].copy(), "lineage_rows": 8}
    assert wl.check(good, exp) == []
    assert wl.check(dict(good, hotspot_counts={"p0000": 4, "p0001": 3}), exp)
    assert wl.check(dict(good, bad=1), exp)
    assert wl.check(dict(good, lineage_rows=7), exp)


def test_geojson_checker_flags_a_lost_feature(tmp_path):
    wl = GeojsonIO(SMOKE["geojson_io"], str(tmp_path), 1)
    exp = wl.expected()
    written = [{"type": "Feature", "geometry": f["geometry"],
                "properties": {**f["properties"], "id_json": json.dumps(f["id"])}}
               for f in wl.features()]

    def write(features):
        os.makedirs(wl.out_dir, exist_ok=True)
        with open(os.path.join(wl.out_dir, "part-00000.geojson"), "w", encoding="utf-8") as fh:
            json.dump({"type": "FeatureCollection", "features": features}, fh, ensure_ascii=False)

    write(written)
    assert wl.check({"reread": len(written)}, exp) == []
    write(written[1:])
    assert wl.check({"reread": len(written)}, exp)


@pytest.mark.parametrize("workload", ["tiling", "spatial_query", "geojson_io"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_every_named_metric(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = {m["name"]: m["unit"] for m in bench["end_to_end" if trace == 0 else "per_layer"]}
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == names
