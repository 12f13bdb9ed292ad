"""The three benchmark workloads: seeded inputs, call sequence, output check.

Each workload writes its inputs to disk at set-up (the engine sees only
those files), computes the expected outputs once with plain NumPy, and
then runs one fixed sequence of public engine calls per repetition:

- ``tiling``: the north-star job (invariant verify, S2 assignment, S2 PIP
  join to hotspot squares, salted agg, level-7 tile rollup, lineage
  write). Bound by Python UDFs; barely touches the join layer.
- ``spatial_query``: the query layer on skewed points (grid PIP with a
  salted agg, grid and hex kNN, distance join, density raster). No image
  decode; hotspot skew drives the adaptive broadcast and ring sizes.
- ``geojson_io``: the fidelity layer (streamed FeatureCollection parse,
  typed projection, per-feature serialization, sharded write, re-read).

A workload's ``run`` returns the outputs its ``check`` compares with the
expected values, so the tests can feed ``check`` corrupted outputs.
"""

from __future__ import annotations

import glob
import json
import os
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from geojson_spark.sources.images import HOTSPOTS, lonlat_for

SIZES = {
    "full": {
        "tiling": {"images": 6000},
        "spatial_query": {"points": 40000, "polygons": 200, "queries": 120},
        "geojson_io": {"features": 12000, "files": 8},
    },
    "smoke": {
        "tiling": {"images": 600},
        "spatial_query": {"points": 3000, "polygons": 24, "queries": 16},
        "geojson_io": {"features": 400, "files": 3},
    },
}


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write_parquet_parts(df: pd.DataFrame, path: str, parts: int) -> None:
    """Several files, so the engine's scans start with several partitions."""
    os.makedirs(path, exist_ok=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(df)), parts)):
        table = pa.Table.from_pandas(df.iloc[chunk], preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"))


def _frame_digest(df: pd.DataFrame) -> str:
    h = pd.util.hash_pandas_object(df.astype(str), index=False).to_numpy()
    return f"{len(df)}:{int(h.sum(dtype=np.uint64))}"


# ---------------------------------------------------------------------------
# polygons shared by tiling and spatial_query
# ---------------------------------------------------------------------------


def _rect_ring(x0, y0, x1, y1) -> list[float]:
    return [x0, y0, x1, y0, x1, y1, x0, y1, x0, y0]


def rect_polygons(rects: np.ndarray, holes: np.ndarray) -> pd.DataFrame:
    """Rows in the engine's flat-polygon shape from (n, 4) outer and hole
    boxes; a hole row of NaN means no hole."""
    rows = []
    for i, (box, hole) in enumerate(zip(rects, holes)):
        coords = _rect_ring(*box)
        ring_offsets = [0, 5]
        if not np.isnan(hole[0]):
            coords += _rect_ring(*hole)
            ring_offsets.append(10)
        rows.append({
            "poly_id": f"p{i:04d}",
            "coords": [float(c) for c in coords],
            "ring_offsets": ring_offsets,
            "part_offsets": [0, 1],
            "dim": 2,
            "bbox": [float(c) for c in box],
        })
    return pd.DataFrame(rows)


def contains(rects: np.ndarray, holes: np.ndarray, x: np.ndarray, y: np.ndarray):
    """Brute-force rectangle-with-hole containment: (point index, polygon
    index) pairs. Coordinates are continuous random doubles, so no point
    sits on an edge and strict inequalities match ray casting."""
    pi, qi = [], []
    for j, (box, hole) in enumerate(zip(rects, holes)):
        m = (x > box[0]) & (x < box[2]) & (y > box[1]) & (y < box[3])
        if not np.isnan(hole[0]):
            m &= ~((x > hole[0]) & (x < hole[2]) & (y > hole[1]) & (y < hole[3]))
        idx = np.flatnonzero(m)
        pi.append(idx)
        qi.append(np.full(idx.size, j))
    return np.concatenate(pi), np.concatenate(qi)


def _counts_equal(got: dict, want: dict) -> bool:
    return {k: int(v) for k, v in got.items() if v} == {k: int(v) for k, v in want.items() if v}


def knn_brute(qx, qy, px, py, k: int) -> np.ndarray:
    """(q_id, rn, p_id) of the k nearest points by squared-degree distance,
    ties broken by point id — the same IEEE operations as the engine."""
    out = []
    pid = np.arange(px.size)
    for q in range(qx.size):
        dx = px - qx[q]
        dy = py - qy[q]
        d2 = dx * dx + dy * dy
        order = np.lexsort((pid, d2))[:k]
        out.append(np.stack([np.full(order.size, q), np.arange(1, order.size + 1), order], 1))
    return np.concatenate(out).astype(np.int64)


def _knn_rows(df: pd.DataFrame) -> np.ndarray:
    a = df[["q_id", "rn", "p_id"]].to_numpy(np.int64)
    return a[np.lexsort((a[:, 1], a[:, 0]))]


# ---------------------------------------------------------------------------
# tiling
# ---------------------------------------------------------------------------


class Tiling:
    name = "tiling"
    why = ("the north-star image tiling job; bound by Python UDFs (invariant "
           "verify, S2 assignment), with a checkpoint write and a 3-polygon join")

    def __init__(self, sizes: dict, workdir: str, seed: int):
        self.rows = sizes["images"]
        self.dir = workdir
        self.seed = seed
        self.images_path = os.path.join(workdir, "images")
        self.lineage_path = os.path.join(workdir, "lineage_s2_assign")

    def hotspot_squares(self) -> np.ndarray:
        """Three seeded squares inside the ±0.01° hotspot clouds, so each
        holds a seed-dependent share of its hotspot."""
        rng = _rng(self.seed, 10)
        c = np.array(HOTSPOTS) + rng.uniform(-0.004, 0.004, (3, 2))
        half = rng.uniform(0.004, 0.009, (3, 1))
        return np.hstack([c - half, c + half])

    def generate(self, spark) -> str:
        from geojson_spark.sources.images import generate_images

        parts = spark.sparkContext.defaultParallelism
        generate_images(spark, self.rows, skew=True, partitions=parts).write.mode(
            "overwrite"
        ).parquet(self.images_path)
        sq = self.hotspot_squares()
        self.polys = rect_polygons(sq, np.full((3, 4), np.nan))
        return _frame_digest(pq.read_table(self.images_path, columns=["image_id", "lon", "lat", "phash"])
                             .to_pandas().sort_values("image_id")) + "|" + _frame_digest(self.polys)

    def expected(self) -> dict:
        from geojson_spark.functions.cells import s2_cell_id, s2_parent

        t = pq.read_table(self.images_path, columns=["lon", "lat"]).to_pandas()
        x, y = t["lon"].to_numpy(), t["lat"].to_numpy()
        sq = self.hotspot_squares()
        _, qi = contains(sq, np.full((3, 4), np.nan), x, y)
        tiles, n = np.unique(s2_parent(s2_cell_id(x, y, 13), 7), return_counts=True)
        return {
            "hotspot_counts": {f"p{j:04d}": int(c) for j, c in enumerate(np.bincount(qi, minlength=3))},
            "tiles": np.stack([tiles, n], 1),
            "rows": self.rows,
        }

    def run(self, spark, tracer, mat) -> dict:
        from pyspark.sql import functions as F

        from geojson_spark.functions.spark_funcs import s2_cell_udf, s2_parent_col
        from geojson_spark.operators.agg import salted_agg
        from geojson_spark.operators.joins import pip_join
        from geojson_spark.plans.checkpoint import partition_metrics
        from geojson_spark.sources.images import verify_invariants

        full = spark.read.parquet(self.images_path)
        out = {}
        with tracer.span("images.verify"):
            bad = ~F.col("psnr_ok") | ~F.col("caption_ok") | ~F.col("phash_ok")
            out["bad"] = verify_invariants(full).where(bad).agg(F.count("*").alias("n")).first()["n"]
        with tracer.span("cells.s2_assign"):
            assigned = full.select("image_id", "lon", "lat").withColumn(
                "cell13", s2_cell_udf(13)(F.col("lon"), F.col("lat"))
            ).cache()
            assigned.count()
        polys = spark.createDataFrame(self.polys)
        with tracer.span("joins.pip_s2") as s:
            joined = mat(pip_join(assigned, polys, index="s2"))
        s["out_rows"] = joined.count() if tracer.plans else None
        with tracer.span("agg.salted"):
            counts = salted_agg(joined, "poly_id", {"n": ("count", "image_id")}).toPandas()
        out["hotspot_counts"] = dict(zip(counts["poly_id"], counts["n"]))
        with tracer.span("agg.tile_rollup"):
            tiles = (assigned.withColumn("tile7", s2_parent_col(F.col("cell13"), 7))
                     .groupBy("tile7").agg(F.count("*").alias("n")).toPandas())
        out["tiles"] = tiles.sort_values("tile7")[["tile7", "n"]].to_numpy(np.int64)
        with tracer.span("checkpoint.lineage"):
            partition_metrics(assigned, "s2_assign").write.mode("overwrite").parquet(self.lineage_path)
        assigned.unpersist()
        out["lineage_rows"] = int(pq.read_table(self.lineage_path, columns=["rows"])
                                  .column("rows").to_numpy().sum())
        return out

    def check(self, out: dict, exp: dict) -> list[str]:
        bad = []
        if out["bad"] != 0:
            bad.append(f"{out['bad']} images failed their invariants")
        if not _counts_equal(out["hotspot_counts"], exp["hotspot_counts"]):
            bad.append(f"hotspot counts {out['hotspot_counts']} != {exp['hotspot_counts']}")
        if not np.array_equal(out["tiles"], exp["tiles"]):
            bad.append("level-7 tile rollup differs")
        if out["lineage_rows"] != exp["rows"]:
            bad.append(f"lineage rows {out['lineage_rows']} != {exp['rows']}")
        return bad


# ---------------------------------------------------------------------------
# spatial_query
# ---------------------------------------------------------------------------


class SpatialQuery:
    name = "spatial_query"
    why = ("the query layer alone (PIP, kNN, distance, density raster) on "
           "hotspot-skewed points; exercises adaptive broadcast and ring sizing")
    K = 10
    RADIUS = 0.01
    RASTER = {"cpd": 1, "res": 8}
    TILE_COLS = ("tile_id", "n_points", "nonzero_px", "max_count", "checksum")

    def __init__(self, sizes: dict, workdir: str, seed: int):
        self.sizes = sizes
        self.dir = workdir
        self.seed = seed
        self.rows = sizes["points"]

    def inputs(self):
        """Seeded points, rectangles (10% near hotspots, 25% holed) and
        query points (25% near hotspots)."""
        n, m, nq = self.sizes["points"], self.sizes["polygons"], self.sizes["queries"]
        r = _rng(self.seed, 20)
        hashes = r.integers(0, np.iinfo(np.uint64).max, n, dtype=np.uint64, endpoint=True)
        px, py = lonlat_for(hashes, skew=True)

        r = _rng(self.seed, 21)
        hot = np.array(HOTSPOTS)[r.integers(0, 3, m)]
        near = r.random(m) < 0.1
        cx = np.where(near, hot[:, 0] + r.uniform(-0.015, 0.015, m), r.uniform(-170, 170, m))
        cy = np.where(near, hot[:, 1] + r.uniform(-0.015, 0.015, m), r.uniform(-75, 75, m))
        hw = np.where(near, r.uniform(0.002, 0.008, m), r.uniform(0.5, 3.0, m))
        hh = np.where(near, r.uniform(0.002, 0.008, m), r.uniform(0.5, 3.0, m))
        rects = np.stack([cx - hw, cy - hh, cx + hw, cy + hh], 1)
        holed = r.random(m) < 0.25
        holes = np.where(holed[:, None], np.stack(
            [cx - 0.4 * hw, cy - 0.4 * hh, cx + 0.4 * hw, cy + 0.4 * hh], 1), np.nan)

        r = _rng(self.seed, 22)
        hot = np.array(HOTSPOTS)[r.integers(0, 3, nq)]
        near = r.random(nq) < 0.25
        qx = np.where(near, hot[:, 0] + r.uniform(-0.03, 0.03, nq), r.uniform(-170, 170, nq))
        qy = np.where(near, hot[:, 1] + r.uniform(-0.03, 0.03, nq), r.uniform(-75, 75, nq))
        return px, py, rects, holes, qx, qy

    def generate(self, spark) -> str:
        px, py, rects, holes, qx, qy = self.inputs()
        parts = spark.sparkContext.defaultParallelism
        points = pd.DataFrame({"p_id": np.arange(px.size, dtype=np.int64), "lon": px, "lat": py})
        queries = pd.DataFrame({"q_id": np.arange(qx.size, dtype=np.int64), "q_lon": qx, "q_lat": qy})
        polys = rect_polygons(rects, holes)
        _write_parquet_parts(points, os.path.join(self.dir, "points"), parts)
        _write_parquet_parts(queries, os.path.join(self.dir, "queries"), 1)
        _write_parquet_parts(polys, os.path.join(self.dir, "polygons"), 1)
        return "|".join(_frame_digest(d) for d in (points, queries, polys))

    def expected(self) -> dict:
        from geojson_spark.functions.spark_funcs import GRID_K

        px, py, rects, holes, qx, qy = self.inputs()
        m = len(rects)
        _, qi = contains(rects, holes, px, py)
        dpairs = []
        r2 = float(self.RADIUS) * float(self.RADIUS)
        for q in range(qx.size):
            dx = px - qx[q]
            dy = py - qy[q]
            idx = np.flatnonzero(dx * dx + dy * dy <= r2)
            dpairs.append(q * px.size + idx)
        # density tiles: the rasterizer's pixel derivation, per-tile stats
        res = self.RASTER["res"]
        scale = float(self.RASTER["cpd"] * res)
        gx = np.minimum(np.floor((px + 180.0) * scale), 360 * scale - 1).astype(np.int64)
        gy = np.minimum(np.floor((py + 90.0) * scale), 180 * scale - 1).astype(np.int64)
        pix, cnt = np.unique(gx * (1 << 20) + gy, return_counts=True)
        gx, gy = pix >> 20, pix & ((1 << 20) - 1)
        tile = (gx // res) * GRID_K + gy // res
        weight = (gy % res) * res + gx % res + 1
        tiles, inv = np.unique(tile, return_inverse=True)
        render = np.zeros((tiles.size, 5), dtype=np.int64)
        render[:, 0] = tiles
        np.add.at(render[:, 1], inv, cnt)
        np.add.at(render[:, 2], inv, 1)
        np.maximum.at(render[:, 3], inv, cnt)
        np.add.at(render[:, 4], inv, weight * np.minimum(cnt, 255))
        return {
            "pip_counts": {f"p{j:04d}": int(c) for j, c in enumerate(np.bincount(qi, minlength=m))},
            "knn": knn_brute(qx, qy, px, py, self.K),
            "distance_pairs": np.sort(np.concatenate(dpairs)),
            "tiles": render,
        }

    def run(self, spark, tracer, mat) -> dict:
        from geojson_spark.operators.agg import salted_agg
        from geojson_spark.operators.joins import distance_join, knn_join, knn_join_hex, pip_join
        from geojson_spark.operators.rasterize import rasterize_density

        points = spark.read.parquet(os.path.join(self.dir, "points"))
        queries = spark.read.parquet(os.path.join(self.dir, "queries"))
        polys = spark.read.parquet(os.path.join(self.dir, "polygons"))
        pts = points.select("p_id", "lon", "lat")
        out = {}

        with tracer.span("joins.pip_grid") as s:
            joined = mat(pip_join(pts, polys, index="grid"))
        s["out_rows"] = joined.count() if tracer.plans else None
        with tracer.span("agg.salted"):
            c = salted_agg(joined, "poly_id", {"n": ("count", "p_id")}, salt_col="p_id").toPandas()
        out["pip_counts"] = dict(zip(c["poly_id"], c["n"]))

        kw = dict(p_lon="lon", p_lat="lat")
        with tracer.span("joins.knn_grid") as s:
            out["knn"] = knn_join(queries, pts, self.K, metric="euclidean_deg2", **kw).select(
                "q_id", "p_id", "rn").toPandas()
            s["out_rows"] = len(out["knn"])
        with tracer.span("joins.knn_hex") as s:
            out["knn_hex"] = knn_join_hex(queries, pts, self.K, **kw).select(
                "q_id", "p_id", "rn").toPandas()
            s["out_rows"] = len(out["knn_hex"])
        with tracer.span("joins.distance") as s:
            d = distance_join(queries, pts, self.RADIUS, **kw).select("q_id", "p_id").toPandas()
            s["out_rows"] = len(d)
        out["distance_pairs"] = np.sort(d["q_id"].to_numpy(np.int64) * self.rows
                                        + d["p_id"].to_numpy(np.int64))

        with tracer.span("rasterize.render"):
            t = rasterize_density(pts, **self.RASTER).select(*self.TILE_COLS).toPandas()
        out["tiles"] = t.sort_values("tile_id").to_numpy(np.int64)
        return out

    def check(self, out: dict, exp: dict) -> list[str]:
        bad = []
        if not _counts_equal(out["pip_counts"], exp["pip_counts"]):
            bad.append("PIP per-polygon counts differ")
        for key in ("knn", "knn_hex"):
            if not np.array_equal(_knn_rows(out[key]), exp["knn"]):
                bad.append(f"{key} neighbours differ")
        if not np.array_equal(out["distance_pairs"], exp["distance_pairs"]):
            bad.append("distance-join pairs differ")
        if not np.array_equal(out["tiles"], exp["tiles"]):
            bad.append("density tiles differ")
        return bad


# ---------------------------------------------------------------------------
# geojson_io
# ---------------------------------------------------------------------------

_NAMES = ["Zürich", "東京", "Αθήνα", "Kraków", "São Paulo", "Москва", "القاهرة", "Reykjavík"]


def _rect_coords(x, y, w, h) -> list:
    return [[x, y], [x + w, y], [x + w, y + h], [x, y + h], [x, y]]


class GeojsonIO:
    name = "geojson_io"
    why = ("the GeoJSON fidelity layer: per-feature parse and serialize in "
           "Python plus a sharded write, as many bytes written as read")

    def __init__(self, sizes: dict, workdir: str, seed: int):
        self.sizes = sizes
        self.dir = workdir
        self.seed = seed
        self.in_dir = os.path.join(workdir, "in")
        self.out_dir = os.path.join(workdir, "out")
        self.rows = sizes["features"]

    def features(self) -> list[dict]:
        """Points, polygons with holes and multipolygons; numeric and string
        ids; multibyte names; foreign members on every third feature."""
        r = _rng(self.seed, 30)
        n = self.rows
        xs = np.round(r.uniform(-170, 170, n), 6)
        ys = np.round(r.uniform(-80, 80, n), 6)
        ws = np.round(r.uniform(0.01, 2.0, n), 6)
        kinds = r.integers(0, 10, n)
        pops = r.integers(0, 10_000_000, n)
        scores = np.round(r.uniform(0, 1000, n), 3)
        feats = []
        for i in range(n):
            x, y, w = float(xs[i]), float(ys[i]), float(ws[i])
            if kinds[i] < 4:
                geom = {"type": "Point", "coordinates": [x, y]}
            elif kinds[i] < 8:
                rings = [_rect_coords(x, y, w, w)]
                if kinds[i] >= 6:
                    q = round(w / 4, 6)
                    rings.append(_rect_coords(x + q, y + q, q, q))
                geom = {"type": "Polygon", "coordinates": rings}
            else:
                geom = {"type": "MultiPolygon", "coordinates": [
                    [_rect_coords(x, y, w, w)], [_rect_coords(x + 2 * w, y, w, w)]]}
            f = {
                "type": "Feature",
                "id": i if i % 2 == 0 else f"f-{i:06d}",
                "geometry": geom,
                "properties": {
                    "name": f"{_NAMES[i % len(_NAMES)]}-{i}",
                    "pop": int(pops[i]),
                    "score": float(scores[i]),
                },
            }
            if i % 3 == 0:
                f["source"] = {"survey": int(i % 7), "note": "ß"}
            feats.append(f)
        return feats

    def generate(self, spark) -> str:
        feats = self.features()
        os.makedirs(self.in_dir, exist_ok=True)
        nfiles = self.sizes["files"]
        crc = 0
        for k in range(nfiles):
            doc = {"type": "FeatureCollection", "name": f"shard {k}",
                   "features": feats[k::nfiles]}
            text = json.dumps(doc, ensure_ascii=False)
            crc = zlib.crc32(text.encode(), crc)
            with open(os.path.join(self.in_dir, f"shard-{k:02d}.geojson"), "w", encoding="utf-8") as fh:
                fh.write(text)
        return f"{len(feats)}:{crc}"

    @staticmethod
    def digest(features) -> tuple[int, int]:
        """Order-free: feature count and the sum of per-feature CRCs over
        (geometry, properties) in canonical JSON."""
        total = 0
        n = 0
        for f in features:
            canon = json.dumps([f["geometry"], f["properties"]], sort_keys=True, ensure_ascii=False)
            total += zlib.crc32(canon.encode())
            n += 1
        return n, total

    def expected(self) -> dict:
        # what the round trip keeps: geometry, typed properties, and the id
        # as its JSON literal text (projected into properties.id_json)
        kept = [{"geometry": f["geometry"],
                 "properties": {**f["properties"], "id_json": json.dumps(f["id"])}}
                for f in self.features()]
        return {"rows": self.rows, "digest": self.digest(kept)}

    def written_features(self):
        for p in sorted(glob.glob(os.path.join(self.out_dir, "part-*.geojson"))):
            with open(p, encoding="utf-8") as fh:
                yield from json.load(fh)["features"]

    def run(self, spark, tracer, mat) -> dict:
        from pyspark.sql import functions as F
        from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

        from geojson_spark.sources.geojson import (
            features_to_table,
            read_geojson,
            table_to_features,
            write_geojson,
        )

        props = StructType([StructField("name", StringType()), StructField("pop", LongType()),
                            StructField("score", DoubleType())])
        out = {}
        with tracer.span("geojson.read"):
            feats = mat(read_geojson(spark, self.in_dir))
        with tracer.span("geojson.table"):
            table = mat(table_to_features(features_to_table(feats, props)))
        with tracer.span("geojson.write") as s:
            write_geojson(table, self.out_dir)
            s["bytes_written"] = sum(os.path.getsize(p) for p in
                                     glob.glob(os.path.join(self.out_dir, "part-*.geojson")))
        with tracer.span("geojson.reread"):
            out["reread"] = read_geojson(spark, self.out_dir).agg(F.count("*").alias("n")).first()["n"]
        return out

    def check(self, out: dict, exp: dict) -> list[str]:
        bad = []
        if out["reread"] != exp["rows"]:
            bad.append(f"re-read {out['reread']} features, expected {exp['rows']}")
        got = self.digest(self.written_features())
        if got != exp["digest"]:
            bad.append(f"written features digest {got} != {exp['digest']}")
        return bad


WORKLOADS = {w.name: w for w in (Tiling, SpatialQuery, GeojsonIO)}
