"""Spark-layer integration tests: image table invariants, PIP/kNN joins,
bbox-union agg, GeoJSON read/write round-trip."""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geojson_spark.functions.geojson_codec import parse_geojson
from geojson_spark.functions.geometry import points_in_polygon
from geojson_spark.operators.agg import bbox_union_2d, bbox_union_agg, salted_agg
from geojson_spark.operators.joins import knn_join, pip_join, tile_join
from geojson_spark.sources.geojson import read_geojson, to_feature_json, write_geojson
from geojson_spark.sources.images import (
    decode_image,
    generate_images,
    psnr_db,
    regen_caption_and_pixels,
)

N_IMG = 3000


@pytest.fixture(scope="module")
def images(spark):
    df = generate_images(spark, N_IMG, skew=True).cache()
    df.count()
    return df


def test_image_table_deterministic_across_parallelism(spark):
    a = generate_images(spark, 500, partitions=2).orderBy("image_id").collect()
    b = generate_images(spark, 500, partitions=7).orderBy("image_id").collect()
    assert len(a) == len(b) == 500
    for ra, rb in zip(a, b):
        assert ra == rb


def test_image_invariants_after_shuffle(images):
    # repartition (full shuffle) then verify PSNR + caption byte-equality
    shuffled = images.repartition(16, "phash")
    sample = shuffled.limit(200).toPandas()
    caps, pixels = regen_caption_and_pixels(sample["image_id"])
    for i, row in sample.iterrows():
        decoded = decode_image(row["bytes"], row["fmt"], row["w"], row["h"])
        orig = pixels[sample.index.get_loc(i)]
        p = psnr_db(orig, decoded)
        if row["fmt"] in ("raw", "rle"):
            assert math.isinf(p)
        else:
            assert p >= 40.0, (row["image_id"], p)
        assert row["caption"] == caps[sample.index.get_loc(i)]


def test_image_skew_hotspots(images):
    pdf = images.select("lon", "lat").toPandas()
    hot = ((pdf.lon + 74.006).abs() < 0.05) & ((pdf.lat - 40.7128).abs() < 0.05)
    assert 0.05 < hot.mean() < 0.2  # ~1/3 of 30% in NYC hotspot


def _square_poly(poly_id, x0, y0, size):
    coords = [x0, y0, x0 + size, y0, x0 + size, y0 + size, x0, y0 + size, x0, y0]
    return {
        "poly_id": poly_id,
        "coords": coords,
        "ring_offsets": [0, 5],
        "part_offsets": [0, 1],
        "dim": 2,
        "bbox": [x0, y0, x0 + size, y0 + size],
    }


@pytest.fixture(scope="module")
def polygons(spark):
    polys = [
        _square_poly("nyc", -74.5, 40.2, 1.0),
        _square_poly("paris", 1.9, 48.4, 1.0),
        _square_poly("tokyo", 139.2, 35.2, 1.0),
        _square_poly("big", -60.0, -30.0, 40.0),
    ]
    return spark.createDataFrame(pd.DataFrame(polys))


@pytest.mark.parametrize("index", ["grid", "s2"])
def test_pip_join_matches_numpy_oracle(spark, images, polygons, index):
    got = (
        pip_join(images.select("image_id", "lon", "lat"), polygons, index=index)
        .select("image_id", "poly_id")
        .toPandas()
    )
    pts = images.select("image_id", "lon", "lat").toPandas()
    want = set()
    for p in polygons.collect():
        inside = points_in_polygon(
            pts.lon.to_numpy(), pts.lat.to_numpy(),
            np.array(p.coords), np.array(p.ring_offsets), p.dim,
        )
        want |= {(iid, p.poly_id) for iid in pts.image_id[inside]}
    assert set(map(tuple, got.values)) == want
    assert len(got) == len(want)  # no duplicate pairs


def test_pip_refine_no_poly_signature_collision(spark):
    # Two polygons with the SAME vertex count and the SAME first/last
    # vertex (both squares anchored at the origin, different sizes) — a
    # content-signature grouping collides here and tests one polygon's
    # points against the other's edges. Grouping by poly_id must not.
    polys = spark.createDataFrame(
        pd.DataFrame(
            [_square_poly("big", 0.0, 0.0, 1.0), _square_poly("small", 0.0, 0.0, 0.2)]
        )
    )
    pts = spark.createDataFrame(
        pd.DataFrame({"pt_id": [1, 2], "lon": [0.5, 0.1], "lat": [0.5, 0.1]})
    )
    got = set(
        map(tuple, pip_join(pts, polys).select("pt_id", "poly_id").toPandas().values)
    )
    assert got == {(1, "big"), (2, "big"), (2, "small")}


def test_pip_broadcast_bounded_by_exploded_cover(spark, polygons, monkeypatch):
    # The broadcast gate must bound estimated post-explode (poly, cell)
    # rows, not raw polygon count: with a tiny budget even 4 polygons must
    # fall back to a shuffled equi-join.
    from geojson_spark.operators import joins as joins_mod

    monkeypatch.setattr(joins_mod, "PIP_BROADCAST_MAX_ROWS", 4)
    pts = spark.createDataFrame(
        pd.DataFrame({"pt_id": [1], "lon": [-74.2], "lat": [40.6]})
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = pip_join(pts, polygons)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # and with the real budget the same side broadcasts
    monkeypatch.setattr(joins_mod, "PIP_BROADCAST_MAX_ROWS", 4_000_000)
    plan = pip_join(pts, polygons)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan


def test_pip_broadcast_bounded_by_bytes(spark, monkeypatch):
    # The gate must also bound estimated broadcast BYTES: a fat-coords
    # polygon side at modest row count (well under the row budget) ships
    # its full coords array on every exploded cover row, so it must fall
    # back to a shuffled equi-join when the byte budget is exceeded.
    from geojson_spark.operators import joins as joins_mod

    n_verts = 200  # ~3.2 KB of coords per polygon
    theta = np.linspace(0.0, 2 * np.pi, n_verts, endpoint=False)
    ring = np.empty(2 * (n_verts + 1))
    ring[0:-2:2] = 0.5 + 0.4 * np.cos(theta)
    ring[1:-2:2] = 0.5 + 0.4 * np.sin(theta)
    ring[-2:] = ring[:2]
    polys = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "poly_id": f"fat{i}",
                    "coords": (ring + i).tolist(),
                    "ring_offsets": [0, n_verts + 1],
                    "dim": 2,
                    "bbox": [0.1 + i, 0.1 + i, 0.9 + i, 0.9 + i],
                }
                for i in range(4)
            ]
        )
    )
    pts = spark.createDataFrame(
        pd.DataFrame({"pt_id": [1], "lon": [0.5], "lat": [0.5]})
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    monkeypatch.setattr(joins_mod, "PIP_BROADCAST_MAX_BYTES", 4 * 1600)
    try:
        plan = pip_join(pts, polys)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # same side under the real byte budget broadcasts, and the join is
    # correct either way
    monkeypatch.setattr(joins_mod, "PIP_BROADCAST_MAX_BYTES", 1 << 30)
    joined = pip_join(pts, polys)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert [r.poly_id for r in joined.collect()] == ["fat0"]


def test_pip_broadcast_probe_empty_hash_sample(spark, monkeypatch):
    # 4096 polygons → hash-sample modulus 2; every poly_id hashes to
    # residue 1, so the residue-0 sample is empty. The probe must then
    # measure the side exactly instead of reading the empty sample as
    # 0 bytes and approving the broadcast.
    from geojson_spark.operators import joins as joins_mod

    ids = spark.range(12_000).select(F.concat(F.lit("p"), F.col("id").cast("string")).alias("i"))
    ids = [r.i for r in ids.where(F.pmod(F.xxhash64("i"), F.lit(2)) == 1).limit(4096).collect()]
    assert len(ids) == 4096
    polys = spark.createDataFrame(
        pd.DataFrame([_square_poly(pid, (j % 64) * 2.0 - 64.0, (j // 64) * 2.0 - 64.0, 0.5)
                      for j, pid in enumerate(ids)])
    )
    pts = spark.createDataFrame(pd.DataFrame({"pt_id": [1], "lon": [-63.75], "lat": [-63.75]}))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # ~4096 polygons × ~25 cover cells × 144 B ≈ 15 MB exploded
    monkeypatch.setattr(joins_mod, "PIP_BROADCAST_MAX_BYTES", 1 << 20)
    try:
        joined = pip_join(pts, polys)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
        assert [r.poly_id for r in joined.collect()] == [ids[0]]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_pip_broadcast_probe_plan_shape(spark, monkeypatch):
    # The two-step probe's bare count must plan no Python UDF (Catalyst
    # prunes the side to a scan), and the sampled stats step's hash
    # modulus must leave at most 2048 expected rows: 3000 polygons need a
    # modulus of 2, not 3000 // 2048 = 1 (a full-side "sample").
    import re

    n = 3000
    polys = spark.createDataFrame(
        pd.DataFrame([_square_poly(f"p{j}", (j % 60) * 2.0 - 60.0, (j // 60) * 2.0 - 60.0, 0.5)
                      for j in range(n)])
    )
    pts = spark.createDataFrame(pd.DataFrame({"pt_id": [1], "lon": [-59.75], "lat": [-59.75]}))
    plans = {"count": [], "first": []}
    cls = type(polys)

    def recording(name):
        original = getattr(cls, name)

        def call(self, *args, **kwargs):
            qe = self._jdf.queryExecution()  # analyzed: before a local filter folds away
            plans[name].append(qe.executedPlan().toString() + qe.analyzed().toString())
            return original(self, *args, **kwargs)

        return call

    for name in plans:
        monkeypatch.setattr(cls, name, recording(name))
    joined = pip_join(pts, polys)
    monkeypatch.undo()
    assert [r.poly_id for r in joined.collect()] == ["p0"]
    assert len(plans["count"]) == 1
    assert not any(tok in plans["count"][0] for tok in ("ArrowEvalPython", "BatchEvalPython"))
    (stats,) = plans["first"]  # the sample is big enough: no exact re-measure
    assert "ArrowEvalPython" in stats or "BatchEvalPython" in stats
    (mod,) = re.findall(r"pmod\(xxhash64\(poly_id#\d+, 42\), cast\((\d+) as bigint\)\)", stats)
    assert n / int(mod) <= 2048


@pytest.mark.parametrize("metric", ["haversine", "euclidean_deg2"])
def test_knn_exact_vs_bruteforce(spark, images, metric):
    queries = spark.createDataFrame(
        pd.DataFrame({"q_id": [0, 1, 2, 3], "q_lon": [-74.0, 2.35, 139.7, 0.0],
                      "q_lat": [40.71, 48.85, 35.69, -85.0]})
    )
    pts = images.select(
        F.col("image_id").alias("p_id"), F.col("lon").alias("p_lon"), F.col("lat").alias("p_lat")
    )
    got = knn_join(queries, pts, k=5, metric=metric).toPandas()
    # brute force oracle in pandas
    qp = queries.toPandas()
    pp = pts.toPandas()
    for _, q in qp.iterrows():
        if metric == "haversine":
            from geojson_spark.functions.geometry import haversine_km as hv
            d = hv(np.full(len(pp), q.q_lon), np.full(len(pp), q.q_lat),
                   pp.p_lon.to_numpy(), pp.p_lat.to_numpy())
        else:
            d = (pp.p_lon - q.q_lon) ** 2 + (pp.p_lat - q.q_lat) ** 2
        order = sorted(zip(d, pp.p_id))[:5]
        want_ids = [pid for _, pid in order]
        got_ids = got[got.q_id == q.q_id].sort_values("rn").p_id.tolist()
        assert got_ids == want_ids, (q.q_id, got_ids, want_ids)


def test_tile_join(spark, images):
    from geojson_spark.functions.spark_funcs import grid_cell, grid_parent

    pts = images.select("image_id", "lon", "lat").withColumn(
        "cell_id", grid_cell(F.col("lon"), F.col("lat"))
    )
    tiles = pts.select(grid_parent(F.col("cell_id"), 16).alias("tile_id")).distinct().withColumn(
        "tile_tag", F.col("tile_id") % 97
    )
    joined = tile_join(pts, tiles, factor=16)
    assert joined.count() == pts.count()  # every point hits exactly one tile


def test_bbox_union_agg_reference_vector(spark):
    # src/feature_collection.rs:250-268
    df = spark.createDataFrame(
        [("g", [-1.0, -1.0, -1.0, 1.0, 1.0, 1.0]), ("g", [10.0, 10.0, 10.0, 11.0, 11.0, 11.0])],
        "k string, bbox array<double>",
    )
    out = bbox_union_agg(df, ["k"]).collect()
    assert out[0].bbox == [-1.0, -1.0, -1.0, 11.0, 11.0, 11.0]


def test_bbox_union_agg_poison(spark):
    rows = [
        ("null_one", [0.0, 0.0, 1.0, 1.0]), ("null_one", None),
        ("odd", [0.0, 0.0, 1.0]),
        ("mismatch", [0.0, 0.0, 1.0, 1.0]), ("mismatch", [0.0] * 6),
        ("empty", []),
        ("ok", [0.0, 0.0, 1.0, 1.0]), ("ok", [-5.0, 2.0, 0.5, 3.0]),
    ]
    df = spark.createDataFrame(rows, "k string, bbox array<double>")
    out = {r.k: r.bbox for r in bbox_union_agg(df, ["k"]).collect()}
    assert out["null_one"] is None
    assert out["odd"] is None
    assert out["mismatch"] is None
    assert out["empty"] is None
    assert out["ok"] == [-5.0, 0.0, 1.0, 3.0]
    out2 = bbox_union_2d(df, ["k"]).toPandas().set_index("k")
    assert np.isnan(out2.loc["odd", "min_x"])
    assert out2.loc["ok", "max_x"] == 1.0


def test_bbox_union_agg_null_group_key(spark):
    # NULL group keys are legitimate groups: a null-unsafe flags↔assembled
    # join would silently return NULL for their (healthy) union.
    rows = [
        (None, [0.0, 0.0, 1.0, 1.0]), (None, [2.0, 2.0, 3.0, 3.0]),
        ("k", [0.0, 0.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "k string, bbox array<double>")
    out = {r.k: r.bbox for r in bbox_union_agg(df, ["k"]).collect()}
    assert out[None] == [0.0, 0.0, 3.0, 3.0]
    assert out["k"] == [0.0, 0.0, 1.0, 1.0]


def test_geohash_out_of_range_clamps_to_edge_cells(spark):
    from geojson_spark.functions.spark_funcs import geohash_cell

    df = spark.createDataFrame(
        [(1, -180.5, 0.0), (2, -180.0, 0.0), (3, 999.0, 91.0), (4, 180.0, 90.0)],
        "id long, lon double, lat double",
    )
    got = {
        r.id: r.c
        for r in df.select("id", geohash_cell(F.col("lon"), F.col("lat"), 4).alias("c")).collect()
    }
    assert got[1] == got[2]  # below-range lon clamps to the first column
    assert got[3] == got[4]  # above-range clamps to the last cell
    assert all(v >= 0 for v in got.values())


def test_salted_agg_equals_plain(spark, images):
    from geojson_spark.functions.spark_funcs import grid_cell

    pts = images.withColumn("cell_id", grid_cell(F.col("lon"), F.col("lat")))
    plain = pts.groupBy("cell_id").agg(
        F.count("*").alias("n"), F.sum("w").alias("sw")
    ).orderBy("cell_id").collect()
    salted = salted_agg(
        pts, "cell_id", {"n": ("count", "image_id"), "sw": ("sum", "w")}, n_salts=8
    ).orderBy("cell_id").collect()
    assert plain == salted


def test_geojson_write_read_roundtrip(spark, tmp_path, countries_geojson):
    p_in = tmp_path / "in"
    p_in.mkdir()
    (p_in / "countries.geojson").write_text(countries_geojson, encoding="utf-8")
    df = read_geojson(spark, str(p_in))
    assert df.count() == 180
    # names survive in properties JSON
    names = df.select(F.get_json_object("properties", "$.name").alias("n")).collect()
    assert sum(1 for r in names if r.n) == 180

    out_dir = tmp_path / "out"
    write_geojson(df.repartition(3), str(out_dir))
    # reread all shards: same 180 features, same geometry semantics
    df2 = read_geojson(spark, str(out_dir))
    assert df2.count() == 180
    a = {json.dumps(json.loads(r.properties), sort_keys=True) for r in df.select("properties").collect()}
    b = {json.dumps(json.loads(r.properties), sort_keys=True) for r in df2.select("properties").collect()}
    assert a == b


def test_to_feature_json_matches_codec(spark):
    fc = '{"type":"FeatureCollection","features":[{"type":"Feature","bbox":[1.0,2.0,3.0,4.0],"geometry":{"type":"Polygon","coordinates":[[[100.0,0.0],[101.0,0.0],[101.0,1.0],[100.0,0.0]]]},"id":"a","properties":{"x":1}}]}'
    import pandas as pd
    from geojson_spark.functions.geojson_codec import parse_feature_obj, serialize_feature
    kind, obj = parse_geojson(fc)
    feats = obj["features"]
    pdf = pd.DataFrame(
        [{"feature_idx": 0, "geometry": feats[0]["geometry"], "bbox": feats[0]["bbox"],
          "id_json": feats[0]["id_json"], "properties": feats[0]["properties"],
          "foreign_members": feats[0]["foreign_members"]}]
    )
    from geojson_spark.schema import FEATURE_SCHEMA
    df = spark.createDataFrame(pdf, schema=FEATURE_SCHEMA)
    got = df.select(to_feature_json(F.struct(*FEATURE_SCHEMA.names)).alias("j")).collect()[0].j
    assert got == serialize_feature(feats[0])


def test_bbox_join_matches_bruteforce(spark):
    from geojson_spark.operators.joins import bbox_join

    rng = np.random.default_rng(5)
    def boxes(n, seed_shift):
        x0 = rng.uniform(-50, 50, n)
        y0 = rng.uniform(-30, 30, n)
        w = rng.uniform(0.1, 15, n)
        h = rng.uniform(0.1, 12, n)
        return x0, y0, x0 + w, y0 + h

    ax0, ay0, ax1, ay1 = boxes(120, 0)
    bx0, by0, bx1, by1 = boxes(150, 1)
    a = spark.createDataFrame(
        pd.DataFrame({"id_a": range(120), "ax0": ax0, "ay0": ay0, "ax1": ax1, "ay1": ay1})
    )
    b = spark.createDataFrame(
        pd.DataFrame({"id_b": range(150), "bx0": bx0, "by0": by0, "bx1": bx1, "by1": by1})
    )
    for cpd in (0.2, 1.0):
        got = {
            (r.id_a, r.id_b)
            for r in bbox_join(a, b, cpd=cpd).select("id_a", "id_b").collect()
        }
        inter = (
            (ax0[:, None] <= bx1[None, :]) & (bx0[None, :] <= ax1[:, None])
            & (ay0[:, None] <= by1[None, :]) & (by0[None, :] <= ay1[:, None])
        )
        want = {(int(i), int(j)) for i, j in zip(*np.nonzero(inter))}
        assert got == want, f"cpd={cpd}: {len(got)} vs {len(want)}"
        assert len(got) > 100  # non-trivial overlap set


def test_verify_invariants_counts_corruption_instead_of_crashing(spark):
    """Size-corrupting damage (truncated bytes) must surface as a failed
    row, not an exception — a checker that crashes on the damage it
    exists to detect reports nothing."""
    from geojson_spark.sources.images import generate_images, verify_invariants

    imgs = generate_images(spark, 30).toPandas()
    imgs.loc[0, "bytes"] = imgs.loc[0, "bytes"][: max(1, len(imgs.loc[0, "bytes"]) // 2)]
    imgs.loc[1, "caption"] = "tampered"
    df = spark.createDataFrame(imgs)
    out = verify_invariants(df).toPandas().set_index("image_id")
    bad_psnr = out[~out.psnr_ok]
    assert len(bad_psnr) == 1
    assert (~out.caption_ok).sum() == 1
    assert out.psnr_ok.sum() == 29


def test_verify_invariants_null_phash_fails_only_its_flag(spark):
    """A null phash fails that row's phash_ok and nothing else. Through
    pandas, a nullable bigint batch holding a null arrives as float64,
    which rounded every other 64-bit phash in the batch."""
    from geojson_spark.sources.images import generate_images, verify_invariants

    imgs = generate_images(spark, 8, partitions=1)
    first = imgs.select(F.min("image_id")).first()[0]
    broken = imgs.withColumn(
        "phash",
        F.when(F.col("image_id") == first, F.lit(None).cast("long")).otherwise(F.col("phash")),
    )
    out = verify_invariants(broken).toPandas().set_index("image_id")
    assert len(out) == 8
    assert out.psnr_ok.all() and out.caption_ok.all()
    assert out.index[~out.phash_ok].tolist() == [first]
