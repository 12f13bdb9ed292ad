"""Streaming GeoJSON source: ndjson feature stream == batch parse, and it
composes with cell assignment + aggregation downstream."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from geojson_spark.functions.spark_funcs import grid_cell
from geojson_spark.sources.geojson import read_geojson, read_geojson_stream


def _feature(i: int) -> dict:
    return {
        "type": "Feature",
        "id": i,
        "geometry": {"type": "Point", "coordinates": [float(i % 30) - 15.0, float(i % 20) - 10.0]},
        "properties": {"name": f"f{i}", "score": i / 4.0},
    }


def _write_ndjson(path, lo, hi):
    with open(path, "w") as fh:
        for i in range(lo, hi):
            fh.write(json.dumps(_feature(i)) + "\n")


def test_stream_matches_batch(spark, tmp_path):
    d = tmp_path / "nd"
    d.mkdir()
    _write_ndjson(d / "a.ndjson", 0, 40)
    _write_ndjson(d / "b.ndjson", 40, 100)

    feats = read_geojson_stream(spark, str(d))
    q = (
        feats.writeStream.format("memory")
        .queryName("gj_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("gj_stream")
    assert got.count() == 100

    batch = read_geojson(spark, str(d))
    key = lambda r: (r.id_json, tuple(r.geometry.coords))  # noqa: E731
    got_rows = {key(r) for r in got.collect()}
    batch_rows = {key(r) for r in batch.collect()}
    assert got_rows == batch_rows

    # properties survive + typed flattening works on the stream
    schema = StructType(
        [StructField("name", StringType()), StructField("score", DoubleType())]
    )
    typed = read_geojson_stream(spark, str(d), properties_schema=schema)
    q2 = (
        typed.writeStream.format("memory")
        .queryName("gj_typed")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    trows = spark.table("gj_typed").collect()
    assert {r.name for r in trows} == {f"f{i}" for i in range(100)}
    assert all(abs(r.score * 4 - int(r.name[1:])) < 1e-12 for r in trows)


def test_stream_composes_with_cell_agg(spark, tmp_path):
    d = tmp_path / "nd2"
    d.mkdir()
    _write_ndjson(d / "a.ndjson", 0, 60)

    feats = read_geojson_stream(spark, str(d))
    cells = feats.select(
        F.element_at("geometry.coords", 1).alias("lon"),
        F.element_at("geometry.coords", 2).alias("lat"),
    ).withColumn("cell_id", grid_cell(F.col("lon"), F.col("lat")))
    agg = cells.groupBy("cell_id").agg(F.count("*").alias("n"))
    q = (
        agg.writeStream.format("memory")
        .queryName("gj_cells")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.cell_id: r.n for r in spark.table("gj_cells").collect()}
    # oracle: batch over the same derivation
    want_df = (
        spark.createDataFrame(
            [(float(i % 30) - 15.0, float(i % 20) - 10.0) for i in range(60)],
            "lon double, lat double",
        )
        .withColumn("cell_id", grid_cell(F.col("lon"), F.col("lat")))
        .groupBy("cell_id")
        .agg(F.count("*").alias("n"))
    )
    want = {r.cell_id: r.n for r in want_df.collect()}
    assert got == want


def test_stream_dedup_bounded_state(spark, tmp_path):
    import shutil

    from geojson_spark.streaming.stateful import stream_dedup

    src = "/root/testdata/sf0.001/events.parquet"
    d = tmp_path / "ev"
    d.mkdir()
    shutil.copy(src, d / "a.parquet")
    shutil.copy(src, d / "b.parquet")  # every event duplicated across files

    schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(schema).parquet(str(d))
    q = (
        stream_dedup(stream, key_cols=["event_id"], watermark="10 days")
        .writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_t").count()
    want = spark.read.parquet(src).select("event_id").distinct().count()
    assert got == want
    # batch path: plain dropDuplicates
    batch = stream_dedup(spark.read.parquet(str(d)), key_cols=["event_id"]).count()
    assert batch == want


def test_geojson_streaming_sink_roundtrip(spark, tmp_path):
    from geojson_spark.sources.geojson import read_geojson
    from geojson_spark.streaming.sinks import write_geojson_stream

    d = tmp_path / "nd"
    d.mkdir()
    _write_ndjson(d / "a.ndjson", 0, 30)

    feats = read_geojson_stream(spark, str(d))
    q = write_geojson_stream(
        feats,
        str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="gj_sink_t",
    )
    q.awaitTermination(120)
    # write_geojson emits a directory of part files per batch
    back = read_geojson(spark, str(tmp_path / "out" / "*" / "*.geojson"))
    rows = back.collect()
    assert len(rows) == 30
    ids = {json.loads(r.id_json) for r in rows if r.id_json is not None}
    assert ids == set(range(30))


def test_read_geojson_misrouted_and_empty_files(spark, tmp_path):
    """ndjson whose first line overflows the sniff window (or starts with
    a blank line) must still read; an empty file contributes 0 features
    instead of failing the scan."""
    d = tmp_path / "odd"
    d.mkdir()
    big_line = json.dumps(
        {"type": "Feature",
         "geometry": {"type": "LineString",
                      "coordinates": [[float(i) / 100, 1.0] for i in range(700)]},
         "properties": None}
    )
    assert len(big_line) > 4096
    (d / "long.ndjson").write_text(big_line + "\n" + json.dumps(_feature(1)) + "\n")
    (d / "blank_lead.ndjson").write_text("\n" + json.dumps(_feature(2)) + "\n")
    (d / "empty.geojson").write_text("")
    from geojson_spark.sources.geojson import read_geojson

    rows = read_geojson(spark, str(d)).collect()
    assert len(rows) == 3


def test_truncated_featurecollection_raises(spark, tmp_path):
    from geojson_spark.sources.geojson import read_geojson

    doc = json.dumps({"type": "FeatureCollection", "features": [_feature(0), _feature(1)]})
    p = tmp_path / "trunc.geojson"
    p.write_text(doc[: len(doc) - 25])  # cut inside the last feature
    with pytest.raises(Exception, match="unexpected end of input"):
        read_geojson(spark, str(p)).collect()


def test_table_to_features_escapes_ids_and_keeps_null_props(spark):
    from geojson_spark.functions.constructors import st_point
    from geojson_spark.sources.geojson import table_to_features, to_feature_json

    df = spark.createDataFrame(
        [("a\\b\"c", None, 5)], "the_id string, name string, pop int"
    ).select(st_point(F.lit(1.0), F.lit(2.0)).alias("geometry"), "the_id", "name", "pop")
    feat = table_to_features(df, id_col="the_id")
    row = feat.first()
    assert json.loads(row.id_json) == 'a\\b"c'  # backslash + quote round-trip
    props = json.loads(row.properties)
    assert props == {"name": None, "pop": 5}  # null keys preserved
    j = feat.select(to_feature_json(F.struct(
        "feature_idx", "geometry", "bbox", "id_json", "properties", "foreign_members"
    )).alias("j")).first().j
    assert json.loads(j)["id"] == 'a\\b"c'


def test_empty_geometry_collection_row_preserved(spark):
    from geojson_spark.sources.geojson import explode_geometry_collections, read_geojson

    import tempfile, os
    d = tempfile.mkdtemp()
    with open(os.path.join(d, "gc.geojson"), "w") as fh:
        fh.write(json.dumps({"type": "FeatureCollection", "features": [
            {"type": "Feature", "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
             "properties": None},
            {"type": "Feature",
             "geometry": {"type": "GeometryCollection", "geometries": []},
             "properties": None},
        ]}))
    df = read_geojson(spark, str(d))
    out = explode_geometry_collections(df)
    assert out.count() == 2  # the empty-GC feature survives (null child)


def test_write_geojson_removes_stale_shards(spark, tmp_path):
    import pytest as _p

    from geojson_spark.sources.geojson import read_geojson, write_geojson

    out = tmp_path / "wout"
    nd = tmp_path / "ndsrc"
    nd.mkdir()
    _write_ndjson(nd / "a.ndjson", 0, 20)
    feats = read_geojson(spark, str(nd)).repartition(4)
    write_geojson(feats.drop("source_file"), str(out))
    n_first = len(list(out.glob("part-*.geojson")))
    assert n_first >= 2
    # rewrite with a single partition: stale shards must disappear
    write_geojson(feats.drop("source_file").coalesce(1), str(out))
    assert len(list(out.glob("part-*.geojson"))) == 1
    assert read_geojson(spark, str(out / "*.geojson")).count() == 20


def test_stream_cell_counts_three_way_parity(spark, tmp_path):
    """stream == batch over the SAME aliased query the driver oracles
    (VERDICT r4 item #4): q_stream_cell_counts is the batch leg (checked
    against DuckDB by the driver); here the identical feature lines go to
    ndjson files, through read_geojson_stream and the shared
    _cell_counts_from_features, and must aggregate to the same rows —
    making stream == batch == DuckDB a three-way equality."""
    import __spark_entry__ as E

    sf_dir = "/root/testdata/sf0.001"
    lines = [r.value for r in E._customer_feature_lines(spark, sf_dir).collect()]
    d = tmp_path / "stream_nd"
    d.mkdir()
    third = max(1, len(lines) // 3)
    for fi, chunk in enumerate([lines[:third], lines[third:2 * third], lines[2 * third:]]):
        with open(d / f"{fi}.ndjson", "w") as fh:
            fh.write("\n".join(chunk) + "\n")

    feats = read_geojson_stream(spark, str(d), max_files_per_trigger=1)
    agg = E._cell_counts_from_features(feats)
    q = (
        agg.writeStream.format("memory")
        .queryName("stream_cc_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.cell_id, r.n_points) for r in spark.table("stream_cc_t").collect()}
    want = {
        (r.cell_id, r.n_points)
        for r in E.queries()["stream_cell_counts"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 50
