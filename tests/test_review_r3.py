"""Regression tests for the round-3 review findings (edge cases the
oracle/driver gates don't exercise)."""

import json

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def test_sniff_cap_single_geometry_type_after_coords(spark, tmp_path):
    """A valid single geometry larger than the sniff cap whose top-level
    "type" follows the coordinate array must still parse (falls back to
    the whole-doc read, not the FC scanner)."""
    from geojson_spark.sources.geojson import read_geojson

    coords = [[float(i % 360 - 180), float(i % 170 / 2 - 42)] for i in range(400)]
    doc = json.dumps({"coordinates": coords, "type": "LineString"})
    p = tmp_path / "big_line.geojson"
    p.write_text(doc)
    rows = read_geojson(spark, str(p), sniff_cap=256).collect()
    assert len(rows) == 1
    assert rows[0].geometry is not None


def test_sniff_cap_fc_with_trailing_type_streams(spark, tmp_path):
    """An FC whose "type" key trails a big features array still routes to
    the streaming scanner when the features key is inside the window."""
    from geojson_spark.sources.geojson import read_geojson

    feats = [
        {"type": "Feature", "geometry": {"type": "Point", "coordinates": [float(i), 1.0]},
         "properties": {"i": i}}
        for i in range(50)
    ]
    doc = json.dumps({"features": feats, "type": "FeatureCollection"})
    p = tmp_path / "trailing_type.geojson"
    p.write_text(doc)
    rows = read_geojson(spark, str(p), sniff_cap=256).collect()
    assert len(rows) == 50


def test_has_toplevel_features_ignores_nested_and_string_keys():
    from geojson_spark.sources.geojson import _has_toplevel_features

    assert _has_toplevel_features('{"features": [')
    assert _has_toplevel_features('{"bbox": [1, 2], "features"  : [{')
    # nested, value-position, or escaped mentions don't count
    assert not _has_toplevel_features('{"properties": {"features": [1]}}')
    assert not _has_toplevel_features('{"name": "features", "other": 1')
    assert not _has_toplevel_features('{"desc": "\\"features\\": [", "x": 1')


def test_distance_join_deg2_respects_max_ring(spark):
    """euclidean_deg2 with ring > max_ring must fall to the bounded
    brute-force residual (no (2·ring+1)² cell explosion) and stay exact."""
    from geojson_spark.operators.joins import distance_join

    rng = np.random.default_rng(5)
    pts = spark.createDataFrame(
        [Row(p_id=i, p_lon=float(x), p_lat=float(y))
         for i, (x, y) in enumerate(rng.uniform(-5, 5, (200, 2)))]
    )
    queries = spark.createDataFrame(
        [Row(q_id=i, q_lon=float(x), q_lat=float(y))
         for i, (x, y) in enumerate(rng.uniform(-5, 5, (10, 2)))]
    )
    radius = 3.0
    big = distance_join(queries, pts, radius=radius, metric="euclidean_deg2",
                        cpd=8, max_ring=2)
    # max_ring=2 < ceil(3*8)+1=25 → every pair must come from the residual
    plan = big._jdf.queryExecution().optimizedPlan().toString()
    assert "explode" not in plan.lower() or "LocalRelation" in plan
    got = {(r.q_id, r.p_id) for r in big.collect()}
    want = set()
    q = queries.collect()
    p = pts.collect()
    for a in q:
        for b in p:
            if (a.q_lon - b.p_lon) ** 2 + (a.q_lat - b.p_lat) ** 2 <= radius**2:
                want.add((a.q_id, b.p_id))
    assert got == want


def test_ensure_min_partitions_repartition_below_wide_op(spark):
    """A repartition buried BELOW an aggregate must not satisfy the
    guarantee — the aggregate's shuffle destroys that distribution."""
    from geojson_spark.functions.spark_funcs import ensure_min_partitions

    src = spark.range(1000).withColumn("k", F.col("id") % 3)
    df = src.repartition(32, "k").groupBy("k").agg(F.count("*").alias("c"))
    out = ensure_min_partitions(df)
    # the helper must have added a repartition on top (plan root)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.splitlines()[0].lstrip(" +-:").startswith("Repartition")


def test_ensure_min_partitions_respects_explicit_output_partitioning(spark):
    from geojson_spark.functions.spark_funcs import ensure_min_partitions

    src = spark.range(1000).withColumn("k", F.col("id") % 3)
    df = src.groupBy("k").agg(F.count("*").alias("c")).repartition(16, "k")
    out = ensure_min_partitions(df)
    assert out is df


def test_stream_dedup_batch_same_ts_deterministic(spark):
    """Duplicate keys sharing a timestamp must resolve the same way
    regardless of input partition order."""
    from geojson_spark.streaming.stateful import stream_dedup

    rows = [Row(event_id=1, ts="2024-01-01 00:00:00", payload=p)
            for p in ("b", "a", "c")] + [
        Row(event_id=2, ts="2024-01-01 00:00:01", payload="z")
    ]
    outs = []
    for order in (rows, rows[::-1]):
        df = spark.createDataFrame(order).repartition(7)
        kept = {r.event_id: r.payload
                for r in stream_dedup(df, key_cols=["event_id"]).collect()}
        outs.append(kept)
    assert outs[0] == outs[1]
    assert outs[0][1] == "a"  # smallest payload wins the tie


def test_repetition_stats_null_text_matches_oracle_semantics(spark):
    from geojson_spark.functions.spark_funcs import repetition_stats

    df = spark.createDataFrame(
        [Row(doc_id="a", text=None), Row(doc_id="b", text="x x y")]
    )
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert out["a"].n_words == 0
    assert out["a"].top_word_freq == 0
    assert out["a"].dup_word_milli == 0
    assert out["b"].top_word_freq == 2


def test_bm25_precomputed_stats_matches_inline(spark):
    from geojson_spark.operators.retrieval import bm25_corpus_stats, bm25_topk

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma doc{i} " + "alpha " * (i % 4))
         for i in range(30)]
    )
    qt = spark.createDataFrame([Row(q_id=0, term="alpha"), Row(q_id=0, term="gamma")])
    inline = {(r.q_id, r.doc_id, r.score, r.rn)
              for r in bm25_topk(docs, qt, k=5).collect()}
    pre = {(r.q_id, r.doc_id, r.score, r.rn)
           for r in bm25_topk(docs, qt, k=5,
                              corpus_stats=bm25_corpus_stats(docs)).collect()}
    assert inline == pre and len(inline) == 5


def test_pip_broadcast_budget_uses_correlated_byte_estimate(spark):
    """A mostly-tiny polygon set with a few fat-coords outliers must NOT
    broadcast when E[cover·bytes] exceeds the budget even though
    E[cover]·E[bytes] would sneak under it."""
    import geojson_spark.operators.joins as J

    rng = np.random.default_rng(9)
    polys = []
    for i in range(40):
        if i < 2:
            # fat polygon: huge ring, huge bbox → big cover AND big coords
            ring = [[float(x), float(y)] for x, y in
                    zip(np.linspace(-40, 40, 3000), np.linspace(-40, 40, 3000))]
        else:
            x0, y0 = rng.uniform(-10, 10, 2)
            ring = [[float(x0), float(y0)], [float(x0 + 0.01), float(y0)],
                    [float(x0 + 0.01), float(y0 + 0.01)], [float(x0), float(y0 + 0.01)],
                    [float(x0), float(y0)]]
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        polys.append(Row(
            poly_id=i,
            coords=[c for p in ring for c in p],
            ring_offsets=[0, len(ring)],
            dim=2,
            bbox=[min(xs), min(ys), max(xs), max(ys)],
        ))
    pdf = spark.createDataFrame(polys)
    pts = spark.createDataFrame(
        [Row(p_id=i, lon=float(x), lat=float(y))
         for i, (x, y) in enumerate(rng.uniform(-10, 10, (50, 2)))]
    )
    old_bytes = J.PIP_BROADCAST_MAX_BYTES
    try:
        J.PIP_BROADCAST_MAX_BYTES = 200_000  # force the byte gate to bind
        out = J.pip_join(pts, pdf, lon="lon", lat="lat")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
        out.count()  # still executes correctly via the shuffle join
    finally:
        J.PIP_BROADCAST_MAX_BYTES = old_bytes
