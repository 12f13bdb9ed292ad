"""The batch serializer over Arrow struct arrays against the per-row one.

``serialize_features_batch`` / ``serialize_geometries_batch`` must print
every row byte for byte as ``serialize_feature`` / ``serialize_geometry``
print the same row, with the row path's defaults for null sub-fields
(coords `[]`, offsets `[0]`, dim 2; a null ``geom_type`` is a null
geometry), and must raise wherever the row path raises.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.pandas.types import to_arrow_type

from geojson_spark.errors import MalformedGeoJson
from geojson_spark.functions.geojson_codec import (
    parse_feature_obj,
    serialize_feature,
    serialize_features_batch,
    serialize_geometries_batch,
    serialize_geometry,
)
from geojson_spark.schema import FEATURE_SCHEMA, GEOMETRY_STRUCT

FEATURE_ARROW = to_arrow_type(FEATURE_SCHEMA)
GEOMETRY_ARROW = to_arrow_type(GEOMETRY_STRUCT)
GEOMETRY_FIELDS = [f.name for f in GEOMETRY_STRUCT.fields]


def _row_geometry(g):
    """A geometry row as the row serializer reads it: None when null or
    untyped, else with the null defaults applied."""
    if g is None or g.get("geom_type") is None:
        return None
    return {
        **g,
        "coords": [] if g.get("coords") is None else g["coords"],
        "ring_offsets": [0] if g.get("ring_offsets") is None else g["ring_offsets"],
        "part_offsets": [0] if g.get("part_offsets") is None else g["part_offsets"],
        "dim": 2 if g.get("dim") is None else g["dim"],
    }


def _reference(rows, serialize):
    """Per-row text, or the exception the row serializer raised."""
    out = []
    for r in rows:
        try:
            out.append(serialize(r))
        except Exception as e:  # noqa: BLE001 — any failure must be matched
            out.append(e)
    return out


def _feature_ref(row):
    return serialize_feature({**row, "geometry": _row_geometry(row["geometry"])})


def _geometry_ref(g):
    g = _row_geometry(g)
    return None if g is None else serialize_geometry(g)


def _assert_batch_matches(batch_fn, items, arrow_type, serialize, offset):
    """The rows the row serializer prints, sliced at ``offset``, print the
    same through the batch kernel; each row it raises on raises alone."""
    expected = _reference(items, serialize)
    fine = [x for x, e in zip(items, expected) if not isinstance(e, Exception)]
    for x, e in zip(items, expected):
        if isinstance(e, Exception):
            with pytest.raises(Exception):
                batch_fn(pa.array([fine[0] if fine else x, x], type=arrow_type).slice(1))
    texts = [e for e in expected if not isinstance(e, Exception)]
    offset = min(offset, len(fine))
    assert batch_fn(pa.array(fine, type=arrow_type).slice(offset)) == texts[offset:]


# ---------------------------------------------------------------------------
# strategies: GeoJSON documents, parsed to rows, some sub-fields nulled
# ---------------------------------------------------------------------------

SPECIAL = [1e16, 1e-05, 5e-324, -0.0, 1.7976931348623157e308, -1.7976931348623157e308,
           1e-07, 123456789012345680.0, 0.1, 2.5e-10]
coord = st.one_of(
    st.sampled_from(SPECIAL),
    st.integers(min_value=-1000, max_value=1000).map(float),
    st.floats(allow_nan=False, allow_infinity=False),
)
json_scalar = st.one_of(st.none(), st.booleans(), st.integers(-(2**31), 2**31),
                        st.floats(allow_nan=False, allow_infinity=False), st.text(max_size=6))
member_key = st.text(min_size=1, max_size=5).filter(
    lambda k: k not in ("type", "coordinates", "geometries", "bbox", "features", "id",
                        "geometry", "properties"))
members = st.dictionaries(member_key, st.one_of(json_scalar, st.lists(json_scalar, max_size=2)),
                          max_size=2)


@st.composite
def geometry(draw, depth=0):
    kinds = ["Point", "MultiPoint", "LineString", "MultiLineString", "Polygon", "MultiPolygon"]
    gtype = draw(st.sampled_from(kinds + (["GeometryCollection"] if depth < 2 else [])))
    if gtype == "GeometryCollection":
        obj = {"type": gtype, "geometries": draw(st.lists(geometry(depth + 1), max_size=3))}
    else:
        dim = draw(st.sampled_from([2, 3, 4]))
        pos = st.lists(coord, min_size=dim, max_size=dim)
        # a position of another dim makes the row ragged (dim -1)
        any_pos = st.one_of(pos, st.lists(coord, min_size=2, max_size=4)) if draw(
            st.booleans()) else pos
        positions = st.lists(any_pos, max_size=4)
        # empty rings/parts after the first element (the first one sets
        # the nesting depth the parser infers)
        rings = st.one_of(st.just([]), st.tuples(st.lists(any_pos, min_size=1, max_size=4),
                                                  st.lists(positions, max_size=2))
                          .map(lambda t: [t[0]] + t[1]))
        if gtype == "Point":
            c = draw(pos)
        elif gtype in ("MultiPoint", "LineString"):
            c = draw(positions)
        elif gtype in ("MultiLineString", "Polygon"):
            c = draw(rings)
        else:
            first = draw(rings.filter(bool))
            c = draw(st.one_of(st.just([]), st.lists(rings, max_size=2).map(lambda r: [first] + r)))
        obj = {"type": gtype, "coordinates": c}
    if draw(st.booleans()):
        obj["bbox"] = draw(st.lists(coord, min_size=4, max_size=6))
    obj.update(draw(members))
    return obj


@st.composite
def feature_row(draw):
    obj = {"type": "Feature", "geometry": draw(st.one_of(st.none(), geometry())),
           "properties": draw(st.one_of(st.none(), st.dictionaries(
               st.text(max_size=4), json_scalar, max_size=3)))}
    fid = draw(st.one_of(st.none(), st.text(max_size=5), st.integers(-(2**40), 2**40),
                         st.floats(allow_nan=False, allow_infinity=False)))
    if fid is not None:
        obj["id"] = fid
    if draw(st.booleans()):
        obj["bbox"] = draw(st.lists(coord, min_size=4, max_size=4))
    obj.update(draw(members))
    row = parse_feature_obj(obj)
    g = row["geometry"]
    if g is not None:
        # null sub-fields, as an Arrow struct may carry them
        for name in draw(st.lists(st.sampled_from(GEOMETRY_FIELDS), max_size=2)):
            g[name] = None
    return {"feature_idx": 0, **row}


# ---------------------------------------------------------------------------
# kernel == row serializer
# ---------------------------------------------------------------------------


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(feature_row(), min_size=1, max_size=8), st.data())
def test_batch_equals_row_serializer(rows, data):
    offset = data.draw(st.integers(0, len(rows) - 1), label="offset")
    _assert_batch_matches(serialize_features_batch, rows, FEATURE_ARROW, _feature_ref, offset)
    _assert_batch_matches(serialize_geometries_batch, [r["geometry"] for r in rows],
                          GEOMETRY_ARROW, _geometry_ref, offset)


def _point(coords, dim=2, **extra):
    return {"geom_type": "Point", "coords": coords, "ring_offsets": [0, 1],
            "part_offsets": [0, 1], "dim": dim, "geoms_json": None, "bbox": None,
            "foreign_members": None, **extra}


def _feature(geom, **extra):
    return {"feature_idx": 0, "geometry": geom, "bbox": None, "id_json": None,
            "properties": None, "foreign_members": None, **extra}


def test_corner_rows_equal_row_serializer():
    rows = [
        _feature(_point([1e16, 1e-05, 5e-324], 3), id_json='"a"', properties='{"k":1}'),
        _feature(_point([-0.0, 1.7976931348623157e308]), bbox=[1.0, 2.0, 3.0, 4.0],
                 foreign_members='{"x":[1,2]}'),
        _feature(_point([1.0, 2.0], foreign_members="{}", bbox=[]), foreign_members="{}"),
        _feature(_point([], dim=0), id_json="7"),
        _feature({**_point([1.0, 2.0]), "geom_type": None}),
        _feature({**_point([]), "geom_type": "GeometryCollection", "geoms_json": None}),
        _feature({**_point([]), "geom_type": "GeometryCollection",
                  "geoms_json": '[{"type":"GeometryCollection","geometries":[]}]'}),
        _feature({**_point([]), "geom_type": "LineString", "dim": -1,
                  "geoms_json": "[[1.0,2.0],[3.0]]"}),
        _feature({**_point([1.0, 2.0, 3.0, 4.0]), "geom_type": "Unknown",
                  "ring_offsets": [0, 2], "part_offsets": [0, 1]}),
        # offsets a parser never writes: a line taken by its part offset,
        # a ring whose end offset lies before its start
        _feature({**_point([float(i) for i in range(12)]), "geom_type": "MultiLineString",
                  "ring_offsets": [0, 2, 4, 6], "part_offsets": [0, 2, 3]}),
        _feature({**_point([float(i) for i in range(6)]), "geom_type": "Polygon",
                  "ring_offsets": [0, 3, 1], "part_offsets": [0, 2]}),
        _feature(None),
    ]
    for offset in range(len(rows)):
        arr = pa.array(rows, type=FEATURE_ARROW).slice(offset)
        assert serialize_features_batch(arr) == [_feature_ref(r) for r in rows[offset:]]


def test_slices_of_a_long_batch_equal_row_serializer(monkeypatch):
    import geojson_spark.functions.geojson_codec as codec

    ring = [[float(i), float(-i)] for i in range(6)] + [[0.0, -0.0]]
    rows = [parse_feature_obj({"type": "Feature", "properties": None, "geometry": {
        "type": "Polygon", "coordinates": [ring[: 3 + i % 5] + [ring[0]]] * (1 + i % 3)}})
        for i in range(40)]
    rows = [{"feature_idx": 0, **r} for r in rows]
    expected = [_feature_ref(r) for r in rows]
    monkeypatch.setattr(codec, "_BATCH_FLOATS", 7)  # a sub-batch per row or two
    arr = pa.array(rows, type=FEATURE_ARROW)
    assert serialize_features_batch(arr) == expected
    assert serialize_features_batch(arr.slice(13, 20)) == expected[13:33]


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
@pytest.mark.parametrize("where", ["coords", "geometry_bbox", "feature_bbox"])
def test_non_finite_raises_like_row_serializer(bad, where):
    geom = _point([1.0, bad] if where == "coords" else [1.0, 2.0],
                  bbox=[bad, 0.0, 1.0, 1.0] if where == "geometry_bbox" else None)
    row = _feature(geom, bbox=[0.0, bad, 1.0, 1.0] if where == "feature_bbox" else None)
    with pytest.raises(MalformedGeoJson, match="non-finite coordinate") as ref:
        _feature_ref(row)
    with pytest.raises(MalformedGeoJson) as got:
        serialize_features_batch(pa.array([_feature(_point([0.0, 0.0])), row],
                                          type=FEATURE_ARROW))
    assert str(got.value) == str(ref.value)


def test_offsets_past_the_coordinates_raise():
    rows = [_feature({**_point([1.0, 2.0]), "geom_type": "LineString",
                      "ring_offsets": [0, 2]})]
    with pytest.raises(IndexError):
        _feature_ref(rows[0])
    with pytest.raises(MalformedGeoJson, match="past its coordinates"):
        serialize_features_batch(pa.array(rows, type=FEATURE_ARROW))


# ---------------------------------------------------------------------------
# write_geojson: one Arrow pass, shards byte-identical to the row path
# ---------------------------------------------------------------------------


def _rows_for_write():
    feats = [
        {"type": "Feature", "id": "a", "properties": {"name": "Zürich"},
         "geometry": {"type": "Point", "coordinates": [8.5, 47.37]}},
        {"type": "Feature", "id": 2, "properties": None, "bbox": [0, 0, 1, 1],
         "geometry": {"type": "Polygon", "coordinates": [
             [[0, 0], [1, 0], [1, 1], [0, 0]], [[0.2, 0.2], [0.4, 0.2], [0.2, 0.4], [0.2, 0.2]]]}},
        {"type": "Feature", "properties": {"n": 1e16}, "src": "x",
         "geometry": {"type": "MultiPolygon", "coordinates": [
             [[[0, 0, 1], [1, 0, 1], [1, 1, 1], [0, 0, 1]]], [[[5e-324, 0, 0], [1, 0, 0],
                                                               [1, 1, 0], [5e-324, 0, 0]]]]}},
        {"type": "Feature", "properties": {}, "geometry": None},
        {"type": "Feature", "properties": {"k": "東京"}, "geometry": {
            "type": "GeometryCollection", "geometries": [
                {"type": "LineString", "coordinates": [[1, 2], [3, 4.5]]}]}},
    ]
    return [{"feature_idx": i, **parse_feature_obj(f)} for i, f in enumerate(feats)]


def _frame(spark, parts):
    """A frame whose partition k holds exactly ``parts[k]``."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(range(len(parts)), len(parts)).flatMap(lambda k: parts[k]),
        FEATURE_SCHEMA)


def _shards(path):
    return {p.name: p.read_text(encoding="utf-8") for p in sorted(path.iterdir())}


def test_write_geojson_shards_equal_row_path(spark, tmp_path):
    from geojson_spark.sources.geojson import write_geojson

    rows = _rows_for_write()
    parts = [rows[:2], [], rows[2:]]
    out = tmp_path / "out"
    out.mkdir()
    (out / "part-00007.geojson").write_text("stale", encoding="utf-8")
    write_geojson(_frame(spark, parts), str(out))

    def collection(rs):
        return '{"type":"FeatureCollection","features":[' + ",".join(
            serialize_feature(r) for r in rs) + "]}"

    assert _shards(out) == {"part-00000.geojson": collection(parts[0]),
                            "part-00002.geojson": collection(parts[2])}

    # feature_col given: its strings are written as they are, nulls skipped
    texts = spark.createDataFrame(
        [("{}",), (None,), ('{"type":"Feature","geometry":null,"properties":null}',)],
        "feature_json string").coalesce(1)
    write_geojson(texts, str(out))
    assert _shards(out) == {"part-00000.geojson": '{"type":"FeatureCollection","features":['
                            '{},{"type":"Feature","geometry":null,"properties":null}]}'}


def test_write_geojson_failure_leaves_no_file(spark, tmp_path):
    from geojson_spark.sources.geojson import write_geojson

    bad = {"feature_idx": 0, **parse_feature_obj({"type": "Feature", "properties": None,
                                                   "geometry": {"type": "Point",
                                                                "coordinates": [1.0, 2.0]}})}
    bad["geometry"]["coords"] = [1.0, math.nan]
    out = tmp_path / "out"
    with pytest.raises(Exception, match="non-finite coordinate"):
        write_geojson(_frame(spark, [_rows_for_write()[:2] + [bad]]), str(out))
    assert list(out.iterdir()) == []


def test_write_geojson_is_one_arrow_action(spark, tmp_path):
    from perfbench.spans import Tracer

    from geojson_spark.sources.geojson import write_geojson

    rows = _rows_for_write()
    frame = _frame(spark, [rows[:3], rows[3:]]).localCheckpoint()
    tracer = Tracer(spark, plans=True)
    try:
        with tracer.span("write") as rec:
            write_geojson(frame, str(tmp_path / "out"))
    finally:
        tracer.close()
    assert len(rec["actions"]) == 1
    names = [name for name, _ in rec["actions"][0]["rows"]]
    assert [n for n in names if n.startswith("MapInArrow")] == ["MapInArrow"]
    assert not [n for n in names if n.startswith(("ArrowEvalPython", "BatchEvalPython"))]
