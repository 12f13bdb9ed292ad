"""The streamed FeatureCollection reader against the whole-document parse:
the same separators rejected, the same features across any chunk split,
feature-relative error positions, and an early stop on a bad first
feature."""

from __future__ import annotations

import io
import json

import pytest

from geojson_spark.errors import MalformedGeoJson
from geojson_spark.functions.geojson_codec import loads_json, parse_feature_obj, parse_geojson
from geojson_spark.sources.geojson import iter_feature_strings, iter_features

F = '{"type":"Feature","geometry":null,"properties":null}'


@pytest.mark.parametrize("doc", [
    '{"type":"FeatureCollection","features":[%s %s]}' % (F, F),
    '{"type":"FeatureCollection","features":[%s,,%s]}' % (F, F),
    '{"type":"FeatureCollection","features":[%s,]}' % F,
    '{"type":"FeatureCollection","features":[,%s]}' % F,
    '{"type":"FeatureCollection" "features":[%s]}' % F,
    '{"features":[%s] "type":"FeatureCollection"}' % F,
    '{"type":"FeatureCollection","features":[%s],}' % F,
    '{"type":"FeatureCollection",,"features":[%s]}' % F,
    '{"type":"FeatureCollection","features":[%s]} x' % F,
])
@pytest.mark.parametrize("chunk", [1, 5, 1 << 20])
def test_separators_the_whole_doc_parse_rejects_raise(doc, chunk):
    with pytest.raises(MalformedGeoJson):
        parse_geojson(doc)
    with pytest.raises(MalformedGeoJson):
        list(iter_feature_strings(io.StringIO(doc), chunk_size=chunk))


def test_read_geojson_rejects_trailing_comma(spark, tmp_path):
    from geojson_spark.sources.geojson import read_geojson

    p = tmp_path / "trailing.geojson"
    p.write_text('{"type":"FeatureCollection","features":[%s,]}' % F)
    with pytest.raises(Exception, match="expected Feature object"):
        read_geojson(spark, str(p)).collect()


# every token kind a chunk boundary can split, in the features and in the
# members skipped around them (raw JSON text: the escapes stay escapes)
TOKEN_DOC = r"""{"lead": -1.5e3, "flag": true, "skip": [{"a": "]\"}"}, [true, "é"]],
 "type": "FeatureCollection", "features": [
  {"type": "Feature", "id": -15,
   "geometry": {"type": "Point", "coordinates": [-1.5e3, 2.25e-7]},
   "properties": {"ok": true, "no": false, "nil": null, "q": "say \"hi\"",
                  "name": "é東京😀", "esc": "\u00e9\ud83d\ude00"}},
  {"type": "Feature", "geometry": null, "extra": {"deep": [[{"s": "]}[{\\"}]]},
   "properties": {"n": [1, -0.0, 12345678901234567890]}}],
 "tail": "東\"京", "n": 7}"""


@pytest.mark.parametrize("as_bytes", [False, True])
@pytest.mark.parametrize("chunk", range(1, 17))
def test_split_tokens_yield_the_whole_doc_features(chunk, as_bytes):
    doc = TOKEN_DOC
    kind, whole = parse_geojson(doc)
    assert kind == "FeatureCollection"
    stream = io.BytesIO(doc.encode("utf-8")) if as_bytes else io.StringIO(doc)
    got = list(iter_features(stream, chunk_size=chunk))
    assert [parse_feature_obj(obj) for _, obj in got] == whole["features"]
    for text, obj in got:  # the text is the exact source slice of the value
        assert text in doc and loads_json(text) == obj


def test_syntax_error_positions_are_feature_relative():
    bad = '{\n  "type": "Feature",\n  "geometry": {"type": "Point", "coordinates": [1.0,]},\n  "properties": null\n}'
    with pytest.raises(MalformedGeoJson) as alone:
        loads_json(bad)
    doc = '{"type": "FeatureCollection",\n"features": [\n%s,\n%s\n]}' % (F, bad)
    for chunk in (3, 64, 1 << 20):
        with pytest.raises(MalformedGeoJson) as ei:
            list(iter_features(io.StringIO(doc), chunk_size=chunk))
        assert (ei.value.lineno, ei.value.colno) == (alone.value.lineno, alone.value.colno) == (3, 53)
        assert str(ei.value) == str(alone.value)


@pytest.mark.parametrize("literal", ["NaN", "Infinity", "-Infinity"])
@pytest.mark.parametrize("chunk", [1, 7, 1 << 20])
def test_non_finite_literals_stay_rejected(literal, chunk):
    doc = ('{"type":"FeatureCollection","features":[{"type":"Feature","geometry":'
           '{"type":"Point","coordinates":[%s,1.0]},"properties":null}]}' % literal)
    with pytest.raises(MalformedGeoJson, match="invalid number literal"):
        list(iter_features(io.StringIO(doc), chunk_size=chunk))
    with pytest.raises(MalformedGeoJson, match="invalid number literal"):
        list(iter_features(io.StringIO(doc.replace('"features"', '"x":%s,"features"' % literal)),
                           chunk_size=chunk))


class _CountingStream:
    def __init__(self, text: str):
        self._inner = io.StringIO(text)
        self.chars_read = 0

    def read(self, n: int = -1) -> str:
        data = self._inner.read(n)
        self.chars_read += len(data)
        return data


def test_bad_first_feature_raises_within_two_chunks():
    good = ('{"type":"Feature","geometry":{"type":"Point","coordinates":[1.0,2.0]},'
            '"properties":{"pad":"%s"}}' % ("x" * 200))
    bad = good.replace("[1.0,2.0]", "[1.0,]")
    doc = '{"type":"FeatureCollection","features":[%s]}' % ",".join([bad] + [good] * 2000)
    err_at = doc.index(",]") + 1
    # chunk ends 5 characters after the error, so a retry is allowed once
    for chunk in (err_at + 5, 512, 4096):
        stream = _CountingStream(doc)
        with pytest.raises(MalformedGeoJson, match="Expecting value"):
            list(iter_feature_strings(stream, chunk_size=chunk))
        assert stream.chars_read <= 2 * chunk < len(doc) // 10


def test_one_collection_per_line_streams_them_all():
    # the sniffer routes a file of FeatureCollection lines to the stream
    line = '{"type":"FeatureCollection","features":[%s]}' % F
    assert len(list(iter_feature_strings(io.StringIO(line + "\n" + line + "\n"), chunk_size=7))) == 2
    with pytest.raises(MalformedGeoJson, match="no `features` array"):
        list(iter_feature_strings(io.StringIO(line + "\n" + F + "\n")))
