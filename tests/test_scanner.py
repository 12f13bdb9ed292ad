"""Streaming feature scanner tests (FeatureIterator parity).

Covers the reference's key-order permutation cases
(src/feature_iterator.rs:232-299) and chunk-boundary robustness.
"""

from __future__ import annotations

import io
import json

import pytest

from geojson_spark.sources.geojson import iter_feature_strings

TWO_FEATURES = {
    "type": "FeatureCollection",
    "features": [
        {"type": "Feature", "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
         "properties": {"a": "x,{}[]\"escaped\""}},
        {"type": "Feature", "geometry": None, "properties": None},
    ],
}


def scan(doc: str, chunk: int = 7):
    return list(iter_feature_strings(io.StringIO(doc), chunk_size=chunk))


@pytest.mark.parametrize("chunk", [1, 3, 7, 64, 1 << 20])
def test_basic_and_chunk_boundaries(chunk):
    feats = scan(json.dumps(TWO_FEATURES), chunk)
    assert len(feats) == 2
    assert json.loads(feats[0])["properties"]["a"] == 'x,{}[]"escaped"'
    assert json.loads(feats[1])["geometry"] is None


def test_features_before_type_key():
    # key order permutation (feature_iterator.rs:232-299)
    doc = '{"features":[{"type":"Feature","geometry":null,"properties":null}],"type":"FeatureCollection"}'
    assert len(scan(doc)) == 1


def test_foreign_member_array_not_confused():
    doc = (
        '{"type":"FeatureCollection","custom":[{"fake":1},{"fake":2}],'
        '"features":[{"type":"Feature","geometry":null,"properties":null}]}'
    )
    feats = scan(doc)
    assert len(feats) == 1
    assert "fake" not in feats[0]


def test_string_containing_features_key():
    doc = (
        '{"type":"FeatureCollection","note":"features",'
        '"features":[{"type":"Feature","geometry":null,"properties":null}]}'
    )
    # the value string "features" is the last string before '[' — by design
    # a depth-1 '[' following the literal key works; a value string equal to
    # "features" followed immediately by an array key cannot occur in valid
    # JSON ( {"note":"features" [ } is malformed ), so this parses correctly.
    assert len(scan(doc)) == 1


def test_empty_features():
    assert scan('{"type":"FeatureCollection","features":[]}') == []


def test_large_real_document(tmp_path, countries_geojson):
    path = tmp_path / "countries.geojson"
    path.write_text(countries_geojson, encoding="utf-8")
    with open(path, encoding="utf-8") as fh:
        feats = list(iter_feature_strings(fh, chunk_size=8192))
    assert len(feats) == 180
    # features straddle the 8192-character read chunks of the scan
    starts = [countries_geojson.index(f) for f in feats]
    assert any(s // 8192 != (s + len(f)) // 8192 for s, f in zip(starts, feats))
    for f in feats[:5] + feats[-5:]:
        obj = json.loads(f)
        assert obj["type"] == "Feature"


# ---------------------------------------------------------------------------
# document-kind sniffing (_sniff_kind / _top_level_type)
# ---------------------------------------------------------------------------


def test_sniff_property_containing_featurecollection_literal():
    from geojson_spark.sources.geojson import _sniff_kind

    doc = ('{"type":"Feature","geometry":{"type":"Point","coordinates":[1.0,2.0]},'
           '"properties":{"note":"this mentions \\"FeatureCollection\\" in prose"}}')
    assert _sniff_kind(doc) == "single"


def test_sniff_long_foreign_member_preamble():
    from geojson_spark.sources.geojson import _sniff_kind, _top_level_type

    preamble = '{"meta":"' + "x" * 8192 + '","type":"FeatureCollection","features":[]}'
    # undecided on a 4 KB prefix (mid-string), resolved with the full doc
    assert _sniff_kind(preamble[:4096]) is None
    assert _sniff_kind(preamble) == "FeatureCollection"
    assert _top_level_type(preamble) == "FeatureCollection"


def test_sniff_nested_type_key_not_top_level():
    from geojson_spark.sources.geojson import _top_level_type

    doc = '{"properties":{"type":"FeatureCollection"},"type":"Feature","geometry":null}'
    assert _top_level_type(doc) == "Feature"


def test_sniff_ndjson_and_truncation():
    from geojson_spark.sources.geojson import _sniff_kind, _top_level_type

    nd = '{"type":"Feature","geometry":null,"properties":null}\n' * 3
    assert _sniff_kind(nd) == "ndjson"
    assert _top_level_type('{"ty') is None  # truncated mid-key
    assert _top_level_type('{"a":1}') == ""  # closed, no type member


def test_read_geojson_routes_preamble_file(spark, tmp_path):
    import json as _json

    from geojson_spark.sources.geojson import read_geojson

    fc = {"meta": "y" * 8192, "type": "FeatureCollection", "features": [
        {"type": "Feature", "geometry": {"type": "Point", "coordinates": [3.0, 4.0]},
         "properties": {"k": 1}},
    ]}
    p = tmp_path / "pre.geojson"
    p.write_text(_json.dumps(fc))
    df = read_geojson(spark, str(p))
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0].geometry.coords == [3.0, 4.0]


def test_read_geojson_sniff_cap_overflow_streams_instead_of_whole_file(spark, tmp_path):
    # An FC whose `features` array precedes the top-level "type" and
    # overflows the sniff window must still take the O(1-feature)
    # streaming path (previously: silent whole-file read).
    import json as _json

    from geojson_spark.sources.geojson import read_geojson

    feats = [
        {"type": "Feature",
         "geometry": {"type": "Point", "coordinates": [float(i), float(i + 1)]},
         "properties": {"pad": "x" * 200, "i": i}}
        for i in range(64)
    ]
    doc = _json.dumps({"features": feats, "type": "FeatureCollection"})
    p = tmp_path / "big_preamble.geojson"
    p.write_text(doc)
    # cap far below the document size ⇒ sniff stays undecided at the cap
    rows = read_geojson(spark, str(p), sniff_cap=1024).collect()
    assert len(rows) == 64
    assert sorted(r.geometry.coords[0] for r in rows) == [float(i) for i in range(64)]
