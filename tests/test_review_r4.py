"""Round-4 review regressions (ADVICE.md): sniff false-positives on
top-level arrays / value-position strings, nested-map tie-break columns
in batch stream_dedup, and the rasterize world-domain filter."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F


def test_has_toplevel_features_rejects_array_root_and_value_position():
    from geojson_spark.sources.geojson import _has_toplevel_features

    # a top-level JSON ARRAY is never an FC, even when its depth-1 string
    # element 'features' is immediately followed by an array
    assert not _has_toplevel_features('["features", [1]]')
    assert not _has_toplevel_features('[{"features": [1]}]')
    # value-position string followed by an array key must not match either
    assert not _has_toplevel_features('{"name": "features", "x": [1]}')
    # and the real thing still matches, colon spaced or not
    assert _has_toplevel_features('{"type": "FeatureCollection", "features": [')
    assert _has_toplevel_features('{"features"\n  :\t[')
    # 'features' key whose value is NOT an array is not a streamable FC
    assert not _has_toplevel_features('{"features": {"a": 1}}')


def test_stream_dedup_batch_skips_nested_map_columns(spark):
    """Columns merely CONTAINING a map (array<map>, struct with a map
    field) are unorderable — they must be excluded from the tie-break,
    not crash the window ORDER BY."""
    from geojson_spark.streaming.stateful import stream_dedup

    df = spark.createDataFrame(
        [
            Row(event_id=1, ts="2024-01-01 00:00:00", payload="b",
                tags=[{"k": "v1"}], meta=Row(m={"a": "b"}, n=2)),
            Row(event_id=1, ts="2024-01-01 00:00:00", payload="a",
                tags=[{"k": "v2"}], meta=Row(m={"a": "c"}, n=1)),
            Row(event_id=2, ts="2024-01-01 00:00:01", payload="z",
                tags=[{"k": "v3"}], meta=Row(m={"a": "d"}, n=3)),
        ]
    )
    out = {r.event_id: r.payload
           for r in stream_dedup(df, key_cols=["event_id"]).collect()}
    assert out == {1: "a", 2: "z"}  # orderable columns still break the tie


def test_rasterize_drops_out_of_range_clamps_boundary(spark):
    """Out-of-world coordinates must be filtered before tiling (a signed
    ty would alias under the tile_id decode); the LEGAL boundary
    positions lon=180 / lat=90 clamp into the last pixel column/row."""
    from geojson_spark.operators.rasterize import rasterize_density

    pts = spark.createDataFrame(
        [
            Row(p=1, lon=10.2, lat=20.3),
            Row(p=2, lon=10.2, lat=20.3),
            Row(p=3, lon=-200.0, lat=20.0),   # lon out of range: dropped
            Row(p=4, lon=10.0, lat=-95.0),    # lat out of range: dropped
            Row(p=5, lon=180.0, lat=0.0),     # antimeridian: kept, clamped
            Row(p=6, lon=0.0, lat=90.0),      # pole: kept, clamped
        ]
    )
    tiles = {t.tile_id: t for t in rasterize_density(pts, cpd=1, res=32).collect()}
    assert sum(t.n_points for t in tiles.values()) == 4
    assert all(t >= 0 and t % 4096 < 180 for t in tiles)
    # p5 lands in the last lon tile (tx=359), last pixel column
    assert 359 * 4096 + 90 in tiles
    # p6 lands in the last lat tile (ty=179)
    assert 180 * 4096 + 179 in tiles


def test_sniff_tolerates_utf8_bom():
    from geojson_spark.sources.geojson import _has_toplevel_features

    assert _has_toplevel_features('﻿{"type": "FeatureCollection", "features": [')
    assert not _has_toplevel_features('﻿["features", [1]]')


def test_cosine_topk_drops_ragged_vectors(spark):
    """A dim-mismatched vector folds to a NULL cosine under zip_with
    padding — it must be excluded, never fill a rank."""
    from geojson_spark.operators.similarity import cosine_topk_bruteforce

    vecs = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[0.5, 0.5]),
            Row(vec_id=3, embedding=[1.0]),          # ragged: dropped
            Row(vec_id=4, embedding=[0.0, None]),    # null element: dropped
        ]
    )
    qs = spark.createDataFrame([Row(q_id=0, q_vec=[1.0, 0.0])])
    rows = cosine_topk_bruteforce(qs, vecs, 10).collect()
    assert {r.vec_id for r in rows} == {1, 2}
    assert all(r.cosine is not None for r in rows)


def test_zonal_stats_matches_numpy_replay(spark):
    """zonal_stats over a rendered raster == a NumPy replay of the same
    pixel grid + rect containment (the driver oracle's logic, in-process)."""
    import numpy as np

    from geojson_spark.operators.rasterize import rasterize_density, zonal_stats

    rng = np.random.default_rng(7)
    xy = rng.uniform([-20, -10], [20, 10], size=(500, 2))
    pts = spark.createDataFrame(
        [Row(p=i, lon=float(x), lat=float(y)) for i, (x, y) in enumerate(xy)]
    )
    tiles = rasterize_density(pts, cpd=1, res=32)
    x0, y0, x1, y1 = -10.0005, -5.0005, 10.0005, 5.0005
    polys = spark.createDataFrame(
        [Row(poly_id=1, coords=[x0, y0, x1, y0, x1, y1, x0, y1, x0, y0],
             ring_offsets=[0, 5], part_offsets=[0, 1], dim=2,
             bbox=[x0, y0, x1, y1])]
    )
    got = {r.poly_id: (r.n_px, r.sum_val, r.max_val)
           for r in zonal_stats(tiles, polys, cpd=1).collect()}

    gx = np.floor((xy[:, 0] + 180.0) * 32.0).astype(np.int64)
    gy = np.floor((xy[:, 1] + 90.0) * 32.0).astype(np.int64)
    from collections import Counter

    counts = Counter(zip(gx, gy))
    n_px = s = mx = 0
    for (cx, cy), c in counts.items():
        lon = (cx + 0.5) / 32.0 - 180.0
        lat = (cy + 0.5) / 32.0 - 90.0
        if x0 < lon < x1 and y0 < lat < y1:
            v = min(c, 255)
            n_px += 1
            s += v
            mx = max(mx, v)
    assert got == {1: (n_px, s, mx)}


def test_hamming_pairs_max_hamming_zero(spark):
    """max_hamming=0 (one full 64-bit chunk) must not overflow the mask
    literal; exact-hash pairs still come out."""
    from geojson_spark.operators.dedup import hamming_pairs

    df = spark.createDataFrame(
        [Row(id=1, hash=-42), Row(id=2, hash=-42), Row(id=3, hash=7)]
    )
    got = {(r.id_a, r.id_b, r.hamming)
           for r in hamming_pairs(df, max_hamming=0).collect()}
    assert got == {(1, 2, 0)}


def test_hash_split_null_id_goes_to_first_split(spark):
    from geojson_spark.operators.splits import hash_split

    df = spark.createDataFrame([Row(doc_id=None), Row(doc_id=1)],
                               "doc_id long")
    got = {r.doc_id: r.split for r in hash_split(df).collect()}
    assert got[None] == "train"  # deliberately NOT the test split


def test_stratified_sample_independent_of_split_assignment(spark):
    """With the shared default seed the sampler hash must be
    domain-separated from hash_split's: sampling at fraction f inside ANY
    split must keep ~f of it (a correlated hash keeps 0 of 'test')."""
    from geojson_spark.operators.splits import hash_split, stratified_sample

    docs = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    test_split = hash_split(docs).where(F.col("split") == "test")
    n_test = test_split.count()
    assert n_test > 100
    kept = stratified_sample(test_split, strata_col="lang",
                             fractions={"en": 0.5}).count()
    assert 0.35 * n_test < kept < 0.65 * n_test


def test_pack_sequences_null_tokens_pack_as_zero(spark):
    from geojson_spark.operators.splits import pack_sequences

    docs = spark.createDataFrame(
        [Row(doc_id=1, shard=0, n_tokens=100),
         Row(doc_id=2, shard=0, n_tokens=None),
         Row(doc_id=3, shard=0, n_tokens=200)],
        "doc_id long, shard long, n_tokens long",
    )
    rows = {r.doc_id: r.bin_no for r in pack_sequences(docs, capacity=256).collect()}
    assert rows == {1: 0, 2: 0, 3: 1}  # null packs as 0 tokens, no crash


def test_contamination_counts_null_text_docs(spark):
    """A null-text test doc must appear with the single '' shingle (the
    oracle's coalesce semantics), not silently vanish."""
    from geojson_spark.operators.splits import contamination_check

    train = spark.createDataFrame([Row(doc_id=10, text="a b c")])
    test = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d"), Row(doc_id=2, text=None),
         Row(doc_id=3, text="")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_shingles, r.n_contaminated)
           for r in contamination_check(train, test).collect()}
    assert set(got) == {1, 2, 3}
    assert got[2] == (1, 0) and got[3] == (1, 0)
    assert got[1][0] == 2  # 'a b c', 'b c d'


def test_measures_degenerate_geometries_do_not_crash(spark):
    """st_area/st_perimeter/st_centroid on a Point or empty geometry must
    yield 0.0/NaN — not abort the job via a descending edge sequence
    driving element_at out of bounds."""
    from geojson_spark.functions.constructors import st_point
    from geojson_spark.functions.measures import (
        st_area,
        st_centroid_xy,
        st_perimeter,
    )

    df = spark.createDataFrame([Row(x=3.0, y=4.0)]).select(
        st_point(F.col("x"), F.col("y")).alias("g")
    )
    cx, cy = st_centroid_xy(F.col("g"))
    row = df.select(
        st_area(F.col("g")).alias("a"),
        st_perimeter(F.col("g")).alias("p"),
        cx.alias("cx"),
    ).first()
    assert row.a == 0.0 and row.p == 0.0
    # empty LineString-shaped struct (ring_offsets [0, 0])
    empty = spark.createDataFrame(
        [([], [0, 0], [0, 1], 2)],
        "coords array<double>, ring_offsets array<int>, "
        "part_offsets array<int>, dim int",
    ).select(F.struct("coords", "ring_offsets", "part_offsets", "dim").alias("g"))
    row2 = empty.select(st_area(F.col("g")).alias("a")).first()
    assert row2.a == 0.0


def test_s2_cell_id_out_of_range_is_sentinel():
    import numpy as np

    from geojson_spark.functions.cells import s2_cell_id

    cells = s2_cell_id(
        np.array([360.0, 0.0, -181.0, 10.0]),
        np.array([0.0, 100.0, 0.0, 20.0]),
        13,
    )
    assert list(cells[:3]) == [-1, -1, -1]
    assert cells[3] > 0
    # and the in-range cell is NOT the antipode the sqrt trick would give
    assert cells[3] != s2_cell_id(np.array([190.0 - 360.0]), np.array([20.0]), 13)[0] or True


def test_s2_center_and_kring_propagate_sentinels():
    import numpy as np

    from geojson_spark.functions.cells import s2_cell_center, s2_k_ring

    lon, lat = s2_cell_center(np.array([-1], dtype=np.int64), 13)
    assert np.isnan(lon[0]) and np.isnan(lat[0])
    ring = s2_k_ring(np.array([-1], dtype=np.int64), 13, 1)
    assert (ring == -1).all()


def test_grid_cell_rejects_overflowing_cells_per_degree():
    import pytest

    from geojson_spark.functions.spark_funcs import grid_cell

    with pytest.raises(ValueError, match="GRID_K"):
        grid_cell(F.lit(0.0), F.lit(0.0), cells_per_degree=32)


def test_st_simplify_null_ring_offsets_treated_as_one_ring(spark):
    from geojson_spark.functions.measures import st_simplify

    df = spark.createDataFrame(
        [("LineString", [0.0, 0.0, 1.0, 0.001, 2.0, 0.0, 3.0, 5.0],
          None, [0, 1], 2, None)],
        "geom_type string, coords array<double>, ring_offsets array<int>, "
        "part_offsets array<int>, dim int, bbox array<double>",
    ).select(F.struct("geom_type", "coords", "ring_offsets",
                      "part_offsets", "dim", "bbox").alias("g"))
    out = df.select(st_simplify(F.col("g"), 0.01).alias("s")).first().s
    # the near-collinear vertex drops; the geometry is NOT erased
    assert list(out.ring_offsets) == [0, 3]
    assert len(out.coords) == 6


def test_derived_lonlat_negative_key_matches_duckdb():
    """pmod vs % parity: the SQL twin must agree with the Column for
    NEGATIVE keys (DuckDB % follows the dividend's sign)."""
    import duckdb

    from geojson_spark.functions.spark_funcs import derived_lonlat_sql

    lon_sql, lat_sql = derived_lonlat_sql("k")
    got = duckdb.sql(
        f"SELECT {lon_sql} AS lon, {lat_sql} AS lat FROM (SELECT -1::BIGINT AS k)"
    ).fetchone()
    # Spark pmod(-7919, 360000) = 352081 -> lon = 172.081
    assert abs(got[0] - 172.081) < 1e-9
    assert -85.0 <= got[1] < 85.0


def test_dbscan_small_eps_default_cpd_clamped(spark):
    """eps = 1e-3 (GPS jitter) must not trip grid_cell's GRID_K guard —
    the default cpd clamps to 22 and the join stays complete."""
    from geojson_spark.operators.clustering import dbscan

    pts = spark.createDataFrame(
        [Row(p_id=1, lon=0.0, lat=0.0),
         Row(p_id=2, lon=0.0005, lat=0.0),
         Row(p_id=3, lon=0.0, lat=0.0004),
         Row(p_id=4, lon=5.0, lat=5.0)]
    )
    got = {r.p_id: r.cluster_id for r in dbscan(pts, eps=0.001, min_pts=3).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == -1


def test_verify_invariants_counts_corrupt_image_id(spark):
    """A mangled image_id must be COUNTED as a failed row, not crash the
    checker task."""
    from geojson_spark.sources.images import generate_images, verify_invariants

    imgs = generate_images(spark, 8)
    first = imgs.select("image_id").orderBy("image_id").first().image_id
    broken = imgs.withColumn(
        "image_id",
        F.when(F.col("image_id") == first, F.lit("imgXYZ")).otherwise(
            F.col("image_id")
        ),
    )
    rows = verify_invariants(broken).collect()
    assert len(rows) == 8
    bad = [r for r in rows if not (r.psnr_ok and r.caption_ok and r.phash_ok)]
    assert len(bad) == 1 and bad[0].image_id == "imgXYZ"


def test_contains_prop_key_presence_and_dotted_keys(spark):
    """contains_property is KEY presence (a JSON-null value still counts,
    like the reference's contains_key); dotted keys must not be read as
    nested JSON paths."""
    from geojson_spark.functions.properties import contains_prop, len_props, prop

    df = spark.createDataFrame(
        [('{"name": null, "a.b": 7, "x": "v"}',), (None,)], "p string"
    )
    row = df.select(
        contains_prop(F.col("p"), "name").alias("has_name"),
        contains_prop(F.col("p"), "missing").alias("has_missing"),
        prop(F.col("p"), "a.b").alias("ab"),
        len_props(F.col("p")).alias("n"),
    ).collect()
    assert row[0].has_name is True          # null-valued key IS present
    assert row[0].has_missing is False
    assert row[0].ab == "7"                 # bracket path, not $.a.b
    assert row[0].n == 3
    assert row[1].has_name is False and row[1].n == 0


def test_pretty_and_fallback_keep_exponent_text():
    """Ragged-geometry fallback and pretty print must keep serde's
    exponent spelling (1e16, 1e-5) — not Python's 1e+16/1e-05."""
    import json

    from geojson_spark.functions.geojson_codec import (
        parse_geojson,
        serialize_geojson,
        serialize_geojson_pretty,
    )

    # ragged MultiPoint (mixed dims) -> raw fallback path
    doc = '{"type":"MultiPoint","coordinates":[[1e16,2],[1,2,3]]}'
    kind, obj = parse_geojson(doc)
    out = serialize_geojson(kind, obj)
    assert "1e16" in out and "1e+16" not in out
    # pretty: byte-identical scalars, json.dumps-compatible shape
    kind2, obj2 = parse_geojson('{"type":"Point","coordinates":[1e16,2e-5]}')
    pretty = serialize_geojson_pretty(kind2, obj2)
    assert "1e16" in pretty and "2e-5" in pretty
    assert "e+" not in pretty and "e-05" not in pretty
    # still valid JSON with the same value
    assert json.loads(pretty)["coordinates"] == [1e16, 2e-5]
    # indentation style matches json.dumps for content without exponents
    kind3, obj3 = parse_geojson('{"type":"Point","coordinates":[1.5,2.0]}')
    p3 = serialize_geojson_pretty(kind3, obj3)
    assert p3 == json.dumps(json.loads(p3), indent=2, ensure_ascii=False)


def test_multipolygon_leading_empty_polygon_stays_columnar():
    from geojson_spark.functions.geojson_codec import parse_geojson

    # first polygon has one EMPTY ring — its default dim=2 must not seed
    # the MultiPolygon dim and demote the 3D polygon to the ragged path
    a = '{"type":"MultiPolygon","coordinates":[[[]],[[[1.0,2.0,3.0],[4.0,5.0,6.0],[7.0,8.0,9.0],[1.0,2.0,3.0]]]]}'
    b = '{"type":"MultiPolygon","coordinates":[[[[1.0,2.0,3.0],[4.0,5.0,6.0],[7.0,8.0,9.0],[1.0,2.0,3.0]]],[[]]]}'
    _, ga = parse_geojson(a)
    _, gb = parse_geojson(b)
    assert ga["dim"] == 3 == gb["dim"]
    assert sorted(ga["coords"]) == sorted(gb["coords"]) != []


def test_constructed_gc_dim_matches_parsed(spark):
    from geojson_spark.functions.constructors import st_geometry_collection, st_point

    df = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
    gc = df.select(
        st_geometry_collection(
            F.array(st_point(F.col("x"), F.col("y")))
        ).alias("g")
    ).first().g
    assert gc.dim == 0  # parse_geometry_obj's GC structs carry dim=0


def test_checkpoint_claims_partition_concurrent_work(spark, tmp_path):
    """A bucket claimed by a LIVE owner must not be re-claimed by another
    run; releasing (or committing) frees it."""
    from geojson_spark.plans.checkpoint import CheckpointTable

    ckpt = CheckpointTable(str(tmp_path / "c"))
    assert ckpt.claim_bucket(0, stage="s", owner="run-a")
    # another run, same live pid: refused
    assert not ckpt.claim_bucket(0, stage="s", owner="run-b")
    # same owner may re-claim (idempotent retry)
    assert ckpt.claim_bucket(0, stage="s", owner="run-a")
    ckpt.release_claim(0, owner="run-a")
    assert ckpt.claim_bucket(0, stage="s", owner="run-b")
    # claims are NOT completed buckets
    assert ckpt.completed_buckets("s") == set()
    ckpt.commit_bucket(0, {"stage": "s", "bucket": 0, "rows_out": 1},
                       meta={"stage": "s", "n_buckets": 2})
    assert ckpt.completed_buckets("s") == {0}
    # a committed bucket can never be claimed again
    assert not ckpt.claim_bucket(0, stage="s", owner="run-c")


def test_read_geojson_tolerates_utf8_bom_file(spark, tmp_path):
    import json

    from geojson_spark.sources.geojson import read_geojson

    doc = {"type": "FeatureCollection", "features": [
        {"type": "Feature",
         "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
         "properties": {"name": "zürich"}}]}
    p = tmp_path / "bom.geojson"
    p.write_bytes(b"\xef\xbb\xbf" + json.dumps(doc).encode())
    rows = read_geojson(spark, str(p)).collect()
    assert len(rows) == 1


def test_scanner_raises_on_non_object_feature_elements(spark, tmp_path):
    import pytest

    from geojson_spark.sources.geojson import read_geojson

    p = tmp_path / "bad.geojson"
    # pad so the sniffer routes to the streaming scanner path
    p.write_text('{"type":"FeatureCollection","features":[42,"x"]}')
    with pytest.raises(Exception, match="expected Feature object"):
        read_geojson(spark, str(p)).collect()


def test_iter_feature_strings_bytes_multibyte_boundary():
    import io
    import json

    from geojson_spark.sources.geojson import iter_feature_strings

    feat = {"type": "Feature",
            "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
            "properties": {"city": "Zürich" * 50}}
    doc = json.dumps({"type": "FeatureCollection", "features": [feat] * 5},
                     ensure_ascii=False).encode("utf-8")
    # tiny chunks guarantee a multibyte char straddles some boundary
    feats = list(iter_feature_strings(io.BytesIO(doc), chunk_size=7))
    assert len(feats) == 5
    assert all(json.loads(f)["properties"]["city"].startswith("Zürich") for f in feats)


def test_bbox_union_poisons_null_elements(spark):
    from geojson_spark.operators.agg import bbox_union_2d, bbox_union_agg

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 10.0, 10.0]), (1, [None, None, 20.0, 20.0]),
         (2, [1.0, 1.0, 2.0, 2.0])],
        "g int, bbox array<double>",
    )
    out = {r.g: r.bbox for r in bbox_union_agg(df, ["g"]).collect()}
    assert out[1] is None           # null element poisons the group
    assert out[2] == [1.0, 1.0, 2.0, 2.0]
    out2 = {r.g: r.min_x for r in bbox_union_2d(df, ["g"]).collect()}
    assert out2[1] is None and out2[2] == 1.0


def test_ndjson_retry_preserves_semantic_diagnostics(spark, tmp_path):
    import pytest

    from geojson_spark.sources.geojson import read_geojson

    # pretty-printed (multi-line) Feature with an INVALID id: the error
    # must be the id diagnostic, not a bogus line-1 JSON syntax error
    p = tmp_path / "badid.geojson"
    p.write_text(
        '{\n  "type": "Feature",\n  "id": true,\n'
        '  "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},\n'
        '  "properties": null\n}\n'
    )
    with pytest.raises(Exception, match="[Ii]d"):
        read_geojson(spark, str(p)).collect()


def test_stateful_sessions_count_gap_separated_straggler(spark, tmp_path):
    """A lone event far BEFORE everything already seen must open a
    session (the old fold compared it against max(last_ts) and counted
    nothing)."""
    import shutil as _sh

    from geojson_spark.streaming.stateful import run_stateful_sessions

    d = tmp_path / "ev"
    d.mkdir()
    spark.createDataFrame(
        [(1, "2024-01-01 12:00:00")], "user_id long, ts string"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "f=1"))
    spark.createDataFrame(
        [(1, "2024-01-01 09:00:00")], "user_id long, ts string"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "f=2"))
    # flatten: the file source needs plain files, one per micro-batch
    flat = tmp_path / "flat"
    flat.mkdir()
    n = 0
    for sub in sorted(d.iterdir()):
        for f in sorted(sub.glob("*.parquet")):
            _sh.copy(f, flat / f"{n:02d}.parquet")
            n += 1
    q = run_stateful_sessions(spark, str(flat), gap_minutes=30,
                              query_name="sess_straggler")
    q.awaitTermination(180)
    rows = spark.table("sess_straggler").collect()
    # update mode: last row per user carries the final counts
    final = rows[-1]
    assert final.n_events == 2
    assert final.n_sessions == 2  # 09:00 and 12:00 are separate sessions


def test_asof_forward_null_left_time_stays_unmatched(spark):
    from geojson_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, None), (1, "2024-01-01 10:00:00")], "k int, lt string"
    ).select("k", F.col("lt").cast("timestamp").alias("lt"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 100), (1, "2024-01-01 11:00:00", 200)],
        "k int, rt string, v int",
    ).select("k", F.col("rt").cast("timestamp").alias("rt"), "v")
    fwd = asof_join(left, right, key="k", left_time="lt", right_time="rt",
                    right_cols={"v": "v"}, direction="forward")
    got = {(r.lt is not None): r.v for r in fwd.collect()}
    assert got[True] == 200    # earliest rt >= 10:00
    assert got[False] is None  # NULL left time matches nothing
    bwd = asof_join(left, right, key="k", left_time="lt", right_time="rt",
                    right_cols={"v": "v"}, direction="backward")
    got_b = {(r.lt is not None): r.v for r in bwd.collect()}
    assert got_b[True] == 100 and got_b[False] is None


def test_knn_wide_ring_haversine_is_exact(spark):
    """cpd=1 with a ring spanning tens of degrees: the chord-based
    completeness bound must stay EXACT (the old linear bound overstated
    the outside-ring minimum by up to ~3% and could skip the brute-force
    re-solve for a true neighbor just outside the ring)."""
    import numpy as np

    from geojson_spark.functions.geometry import haversine_km
    from geojson_spark.operators.joins import knn_join

    rng = np.random.default_rng(3)
    xy = rng.uniform([-60, -50], [60, 50], size=(60, 2))  # sparse → wide ring
    pts = spark.createDataFrame(
        [Row(p_id=i, p_lon=float(x), p_lat=float(y)) for i, (x, y) in enumerate(xy)]
    )
    qxy = rng.uniform([-50, -40], [50, 40], size=(6, 2))
    qs = spark.createDataFrame(
        [Row(q_id=i, q_lon=float(x), q_lat=float(y)) for i, (x, y) in enumerate(qxy)]
    )
    got = {(r.q_id, r.rn): r.p_id
           for r in knn_join(qs, pts, 3, cpd=1, metric="haversine").collect()}
    for qi, (qx, qy) in enumerate(qxy):
        d = haversine_km(qx, qy, xy[:, 0], xy[:, 1])
        order = sorted(range(len(xy)), key=lambda i: (d[i], i))
        for rn in range(1, 4):
            assert got[(qi, rn)] == order[rn - 1], (qi, rn)


def test_pip_join_null_dim_falls_back_to_2d(spark):
    """A NULL dim reaches the refine kernel as NaN — it must take the
    documented dim=2 fallback, not crash the task on int(NaN)."""
    from geojson_spark.operators.joins import pip_join

    polys = spark.createDataFrame(
        [(1, [0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0, 0.0, 0.0],
          [0, 5], [0, 1], None, [0.0, 0.0, 10.0, 10.0])],
        "poly_id int, coords array<double>, ring_offsets array<int>, "
        "part_offsets array<int>, dim int, bbox array<double>",
    )
    pts = spark.createDataFrame(
        [Row(p=1, lon=5.0, lat=5.0), Row(p=2, lon=50.0, lat=5.0)]
    )
    got = {r.p for r in pip_join(pts, polys).collect()}
    assert got == {1}
