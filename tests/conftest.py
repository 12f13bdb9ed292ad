from __future__ import annotations

import json

import numpy as np
import pytest


@pytest.fixture(scope="session")
def spark():
    from geojson_spark.session import get_spark

    s = get_spark(
        master="local[4]",
        app_name="geojson-spark-tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


COUNTRY_NAMES = ["Österreich", "日本", "Ελλάδα", "Россия", "مصر", "Việt Nam",
                 "Ísland", "Türkiye", "대한민국", "ประเทศไทย", "Česko", "Côte d'Ivoire"]


def countries_feature_collection(n: int = 180, seed: int = 7) -> str:
    """A ~1 MB FeatureCollection standing in for a real countries file:
    ``n`` features alternating Polygon and 2–4-part MultiPolygon, each
    ~5 KB of 6-decimal coordinates (so many straddle an 8192-character
    read chunk), with a unique multibyte ``name`` and a string ``id``.
    Deterministic in ``seed``; serialized with raw UTF-8, not ``\\u``
    escapes."""
    rng = np.random.default_rng(seed)
    feats = []
    for i in range(n):
        cx, cy = rng.uniform(-170, 160), rng.uniform(-80, 80)
        parts = []
        for j in range(1 if i % 2 == 0 else 2 + i % 3):
            nv = int(rng.integers(60, 140))
            theta = np.sort(rng.uniform(0.0, 2 * np.pi, nv))
            r = rng.uniform(0.5, 1.4, nv)
            xs = np.round(cx + 3.0 * j + r * np.cos(theta), 6)
            ys = np.round(cy + r * np.sin(theta), 6)
            ring = [[float(x), float(y)] for x, y in zip(xs, ys)]
            parts.append([ring + [ring[0]]])
        geom = ({"type": "Polygon", "coordinates": parts[0]} if len(parts) == 1
                else {"type": "MultiPolygon", "coordinates": parts})
        feats.append({
            "type": "Feature",
            "id": f"C{i:03d}",
            "properties": {"name": f"{COUNTRY_NAMES[i % len(COUNTRY_NAMES)]} {i}"},
            "geometry": geom,
        })
    return json.dumps({"type": "FeatureCollection", "features": feats}, ensure_ascii=False)


@pytest.fixture(scope="session")
def countries_geojson() -> str:
    return countries_feature_collection()
