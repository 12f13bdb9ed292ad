"""Tests for DBSCAN clustering and the point→image-tile rasterizer."""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def _pts(spark, coords):
    return spark.createDataFrame(
        [Row(p_id=i, lon=float(x), lat=float(y)) for i, (x, y) in enumerate(coords)]
    )


def _square(poly_id, x0, y0, size):
    return {
        "poly_id": poly_id,
        "coords": [x0, y0, x0 + size, y0, x0 + size, y0 + size,
                   x0, y0 + size, x0, y0],
        "ring_offsets": [0, 5],
        "part_offsets": [0, 1],
        "dim": 2,
        "bbox": [x0, y0, x0 + size, y0 + size],
    }


class TestDbscan:
    def test_hand_checked_clusters_border_noise(self, spark):
        from geojson_spark.operators.clustering import dbscan

        coords = [
            # cluster A: 4 mutually-close points (all core at min_pts=3)
            (0.0, 0.0), (0.3, 0.0), (0.0, 0.3), (0.3, 0.3),
            # border point: within eps of A's cores, itself has only
            # 2 neighbors beyond... actually (0.9,0) reaches (0.3,0)+(0.3,0.3)
            (0.9, 0.0),
            # cluster B: 3 close points far away
            (50.0, 50.0), (50.2, 50.0), (50.0, 50.2),
            # noise: alone
            (-120.0, -60.0),
        ]
        out = {
            r.p_id: (r.cluster_id, r.is_core)
            for r in dbscan(_pts(spark, coords), eps=0.7, min_pts=3).collect()
        }
        assert len(out) == 9
        # cluster A: min id 0; all 4 are core
        for i in range(4):
            assert out[i] == (0, 1)
        # point 4: neighbors are itself + p1 (0.6) + p3 (0.67) → degree 3
        # → core, joins cluster 0
        assert out[4] == (0, 1)
        # cluster B: min id 5, all core (each sees all 3 incl. self)
        for i in (5, 6, 7):
            assert out[i] == (5, 1)
        assert out[8] == (-1, 0)  # noise

    def test_true_border_point(self, spark):
        from geojson_spark.operators.clustering import dbscan

        # 3 core points in a tight clump + one point whose only neighbors
        # are itself and ONE core → not core (min_pts=3), but border:
        # at eps=0.55, p3 sees self + p1 (dist 0.5) only → degree 2
        coords = [(0.0, 0.0), (0.1, 0.0), (0.0, 0.1), (0.6, 0.0)]
        out = {
            r.p_id: (r.cluster_id, r.is_core)
            for r in dbscan(_pts(spark, coords), eps=0.55, min_pts=3).collect()
        }
        assert out[0] == (0, 1) and out[1] == (0, 1) and out[2] == (0, 1)
        assert out[3] == (0, 0)  # border: joins cluster 0, not core

    def test_deterministic_under_repartition(self, spark):
        from geojson_spark.operators.clustering import dbscan

        rng = np.random.default_rng(3)
        coords = [(float(x), float(y)) for x, y in rng.uniform(-20, 20, (300, 2))]
        base = _pts(spark, coords)
        a = sorted(
            (r.p_id, r.cluster_id, r.is_core)
            for r in dbscan(base, eps=1.5, min_pts=4).collect()
        )
        b = sorted(
            (r.p_id, r.cluster_id, r.is_core)
            for r in dbscan(base.repartition(17), eps=1.5, min_pts=4).collect()
        )
        assert a == b
        # every cluster label is the min id of its members that are core
        clusters = {}
        for pid, cid, core in a:
            if cid >= 0 and core:
                clusters.setdefault(cid, []).append(pid)
        for cid, members in clusters.items():
            assert cid == min(members)

    def test_matches_bruteforce_reference(self, spark):
        """Full reference implementation in NumPy: neighbor matrix, core
        test, BFS components, min-core-neighbor border assignment."""
        from geojson_spark.operators.clustering import dbscan

        rng = np.random.default_rng(11)
        xy = rng.uniform(-10, 10, (150, 2))
        eps, min_pts = 1.8, 3
        d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(-1)
        nbr = d2 <= eps * eps
        deg = nbr.sum(1)
        core = deg >= min_pts
        n = len(xy)
        label = {}
        for i in sorted(np.where(core)[0]):
            if i in label:
                continue
            stack, comp = [i], []
            seen = {i}
            while stack:
                u = stack.pop()
                comp.append(u)
                for v in np.where(nbr[u] & core)[0]:
                    if v not in seen:
                        seen.add(v)
                        stack.append(v)
            m = min(comp)
            for u in comp:
                label[u] = m
        expected = {}
        for i in range(n):
            if core[i]:
                expected[i] = (label[i], 1)
            else:
                cn = [label[j] for j in np.where(nbr[i] & core)[0] if j != i]
                expected[i] = (min(cn), 0) if cn else (-1, 0)
        pts = _pts(spark, [(float(x), float(y)) for x, y in xy])
        got = {
            r.p_id: (r.cluster_id, r.is_core)
            for r in dbscan(pts, eps=eps, min_pts=min_pts).collect()
        }
        assert got == expected


class TestRasterize:
    def test_hand_checked_tile(self, spark):
        from geojson_spark.operators.rasterize import rasterize_density
        from geojson_spark.functions.spark_funcs import GRID_K
        from geojson_spark.sources.images import decode_image

        # all points inside the 1°×1° tile [10,11)×[20,21); res 4 → pixels
        # are quarter-degree cells
        pts = _pts(
            spark,
            [
                (10.10, 20.10),  # px 0, py 0
                (10.10, 20.15),  # px 0, py 0 (same pixel)
                (10.80, 20.90),  # px 3, py 3
            ],
        )
        rows = rasterize_density(pts, cpd=1, res=4).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.tile_id == (10 + 180) * GRID_K + (20 + 90)
        assert (r.n_points, r.nonzero_px, r.max_count) == (3, 2, 2)
        img = decode_image(r.bytes, r.fmt, r.w, r.h).reshape(4, 4, 3)[:, :, 0]
        assert img[0, 0] == 2 and img[3, 3] == 1 and img.sum() == 3
        # checksum = (0*4+0+1)*2 + (3*4+3+1)*1 = 2 + 16 = 18
        assert r.checksum == 18

    def test_pixel_totals_reconstruct_counts(self, spark):
        from geojson_spark.operators.rasterize import rasterize_density

        rng = np.random.default_rng(7)
        coords = [(float(x), float(y)) for x, y in rng.uniform(-30, 30, (2000, 2))]
        out = rasterize_density(_pts(spark, coords), cpd=1, res=8)
        agg = out.agg(
            F.sum("n_points").alias("total"), F.max("max_count").alias("mx")
        ).first()
        assert agg["total"] == 2000
        assert agg["mx"] >= 1

    def test_q8_phash_describes_stored_bytes(self, spark):
        """Lossy q8 tiles: phash must hash the DECODED (quantized) pixels
        — the engine-wide phash-describes-the-stored-bytes convention —
        and the integer stats must come from the pre-encode counts (q8
        quantizes 0 → 2, so decoded-byte stats would read res² nonzero
        pixels everywhere)."""
        from geojson_spark.operators.rasterize import rasterize_density
        from geojson_spark.sources.images import average_phash, decode_image

        pts = _pts(spark, [(10.10, 20.10), (10.10, 20.15), (10.80, 20.90)])
        r = rasterize_density(pts, cpd=1, res=4, out_fmt="q8").collect()[0]
        dec = decode_image(r.bytes, "q8", 4, 4)
        assert r.phash == average_phash(dec, 4, 4)
        # counts 2 and 1 survive as stats even though q8 stores 7 and 2
        assert (r.n_points, r.nonzero_px, r.max_count) == (3, 2, 2)
        assert r.checksum == 18

    def test_zonal_stats_hand_checked(self, spark):
        """Pixel(0,0) of tile (10,20) has center (10.125, 20.125) and
        count 2; pixel(3,3) center (10.875, 20.875), count 1. A polygon
        over the tile's SW quarter sees only the first; one over the
        whole tile sees both."""
        from geojson_spark.operators.rasterize import (
            rasterize_density,
            zonal_stats,
        )

        pts = _pts(spark, [(10.10, 20.10), (10.10, 20.15), (10.80, 20.90)])
        tiles = rasterize_density(pts, cpd=1, res=4)
        polys = spark.createDataFrame(
            [
                Row(**_square("sw", 10.0, 20.0, 0.5)),
                Row(**_square("full", 10.0, 20.0, 1.0)),
            ]
        )
        got = {
            r.poly_id: (r.n_px, r.sum_val, r.max_val)
            for r in zonal_stats(tiles, polys, cpd=1).collect()
        }
        assert got == {"sw": (1, 2, 2), "full": (2, 3, 2)}

    def test_zonal_stats_matches_numpy_reference(self, spark):
        """Random points → rasterize → zonal vs a NumPy replay: same grid
        arithmetic, containment via the package's own ray-cast kernel
        (itself tested against brute force elsewhere)."""
        from geojson_spark.functions.geometry import points_in_polygon
        from geojson_spark.operators.rasterize import (
            rasterize_density,
            zonal_stats,
        )

        rng = np.random.default_rng(23)
        xy = rng.uniform(0, 12, (3000, 2))
        res, cpd = 8, 1
        polys = [_square("a", 1.0, 1.0, 6.3), _square("b", 4.2, 0.5, 7.1)]

        gx = np.floor((xy[:, 0] + 180.0) * cpd * res).astype(np.int64)
        gy = np.floor((xy[:, 1] + 90.0) * cpd * res).astype(np.int64)
        from collections import Counter

        counts = Counter(zip(gx, gy))
        cgx = np.array([k[0] for k in counts])
        cgy = np.array([k[1] for k in counts])
        val = np.minimum(np.array(list(counts.values())), 255)
        clon = (cgx + 0.5) / (cpd * res) - 180.0
        clat = (cgy + 0.5) / (cpd * res) - 90.0
        expected = {}
        for p in polys:
            inside = points_in_polygon(
                clon, clat, np.array(p["coords"]),
                np.array(p["ring_offsets"]), p["dim"],
            )
            if inside.any():
                expected[p["poly_id"]] = (
                    int(inside.sum()),
                    int(val[inside].sum()),
                    int(val[inside].max()),
                )

        tiles = rasterize_density(
            _pts(spark, [(float(x), float(y)) for x, y in xy]), cpd=cpd, res=res
        )
        got = {
            r.poly_id: (r.n_px, r.sum_val, r.max_val)
            for r in zonal_stats(
                tiles, spark.createDataFrame([Row(**p) for p in polys]), cpd=cpd
            ).collect()
        }
        assert got == expected

    def test_composes_with_image_operators(self, spark):
        """Rendered tiles are real image rows: luma_histogram and pHash
        dedup run on them unchanged."""
        from geojson_spark.operators.rasterize import rasterize_density
        from geojson_spark.sources.images import luma_histogram

        rng = np.random.default_rng(9)
        coords = [(float(x), float(y)) for x, y in rng.uniform(0, 10, (500, 2))]
        tiles = rasterize_density(_pts(spark, coords), cpd=1, res=16).withColumn(
            "image_id", F.col("tile_id").cast("string")
        )
        h = luma_histogram(tiles, bins=4).collect()
        assert len(h) > 0
        for row in h:
            assert sum(row.hist) == 16 * 16


def test_rle_tiles_roundtrip_through_stored_bytes(spark):
    """rle (the per-tile codec path the round-5 batched render kept
    scalar): the stored bytes must decode to the exact count raster, and
    phash/checksum must describe those decoded bytes."""
    from geojson_spark.operators.rasterize import rasterize_density
    from geojson_spark.sources.images import average_phash, decode_image

    pts = _pts(spark, [(10.10, 20.10), (10.10, 20.15), (10.80, 20.90),
                       (10.80, 20.90), (10.80, 20.90)])
    rows = {r.tile_id: r for r in
            rasterize_density(pts, cpd=1, res=4, out_fmt="rle").collect()}
    assert len(rows) == 1
    r = next(iter(rows.values()))
    dec = decode_image(r.bytes, "rle", 4, 4)
    gray = dec.reshape(4, 4, 3)[:, :, 0]
    assert r.n_points == 5 and r.max_count == 3
    assert int(gray.sum()) == 5 and int((gray > 0).sum()) == r.nonzero_px == 2
    assert r.phash == average_phash(dec, 4, 4)
    idx1 = np.arange(16, dtype=np.int64).reshape(4, 4) + 1
    assert r.checksum == int((idx1 * gray.astype(np.int64)).sum())


@pytest.mark.parametrize("fmt", ["rle", "raw"])
def test_tile_pixels_rejects_length_errors_that_cancel(spark, fmt):
    """Two corrupt tiles in one (w, h, fmt) group, one a pixel too long and
    one a pixel too short: the stack's total length is right, so only a
    per-tile check sees that every pixel after the first tile is shifted."""
    from geojson_spark.operators.rasterize import tile_pixels
    from geojson_spark.sources.images import rle_encode

    w = h = 4
    long_px = np.full((w * h + 1) * 3, 7, dtype=np.uint8)
    short_px = np.full((w * h - 1) * 3, 9, dtype=np.uint8)
    enc = rle_encode if fmt == "rle" else (lambda px: px.tobytes())
    tiles = spark.createDataFrame(
        [(1, bytearray(enc(long_px)), w, h, fmt),
         (2, bytearray(enc(short_px)), w, h, fmt)],
        "tile_id bigint, bytes binary, w int, h int, fmt string",
    ).coalesce(1)
    with pytest.raises(Exception, match=r"tile 1: decoded 51 bytes, expected 48"):
        tile_pixels(tiles).collect()
