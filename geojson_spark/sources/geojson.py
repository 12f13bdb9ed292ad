"""GeoJSON ⇄ DataFrame: distributed readers, parse/serialize UDFs, sinks.

Spark mappings for the reference's IO surface (SURVEY.md §2.1–§2.3):

- ``read_geojson``    — P1/P2/P5 + R1/R2: file(s) → one row per Feature.
  A FeatureCollection document is *streamed* feature-by-feature in
  O(1-feature) memory by ``iter_features`` (parity: FeatureIterator,
  src/feature_iterator.rs:36-128, which scans to `[` then alternates
  `,`/`]`). It walks the members of the top-level object in any key order
  (cf. the key-permutation tests, src/feature_iterator.rs:232-299) and
  checks every separator. Each ``features`` element goes to the stdlib C
  JSON scanner (``raw_decode``), which finds the feature's end and parses
  it, with ``loads_json``'s strictness, in one pass; other members are
  skipped by a regex over strings and brackets. No Python code runs per
  character, and no feature is parsed twice. Each file is one input
  split; feature batches explode into DataFrame rows via mapInPandas, so
  a directory of files parallelizes across executors and a single huge
  file still streams bounded-memory.
- ``parse_features_udf`` — P1-P9 for a string column of GeoJSON docs.
- ``to_feature_json``  — S1/S3: feature struct column → compact JSON string,
  an Arrow UDF over the batch serializer ``serialize_features_batch``.
- ``write_geojson``    — S4/S6: DataFrame → a directory of FeatureCollection
  shards, in one Arrow pass: each partition's ``mapInArrow`` task
  serializes its batches and streams them through ``GeoJsonFeatureWriter``
  (the same 4-state machine as FeatureWriter, src/feature_writer.rs:7-268),
  so every shard is one complete FeatureCollection document written by
  the task that holds its rows.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterator
from typing import Any

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from geojson_spark.errors import InvalidWriterState, MalformedGeoJson
from geojson_spark.functions.geojson_codec import (
    STRICT_DECODER,
    dumps_json,
    loads_json,
    parse_feature_obj,
    parse_geojson,
    serialize_feature,
    serialize_features_batch,
    serialize_geometries_batch,
)
from geojson_spark.schema import FEATURE_SCHEMA


# ---------------------------------------------------------------------------
# streaming feature scanner (FeatureIterator parity, O(1 feature) memory)
# ---------------------------------------------------------------------------


# one step of skipping a value: a run of text without quotes or brackets,
# then a whole string or one bracket
_SKIP = re.compile(r'[^"\[\]{}]*(?:"[^"\\]*(?:\\.[^"\\]*)*"|[\[\]{}])', re.S)
_WS = re.compile(r"[ \t\n\r]*")
# a decode error this close to the end of the buffer may only mean that
# the value goes on in the next chunk
_TAIL = 16
_EOF = "unexpected end of input inside FeatureCollection"


def _unexpected(ch: str, expected: str) -> MalformedGeoJson:
    """The error for reading ``ch`` ("" = end of input) where ``expected``
    belongs."""
    if not ch:
        return MalformedGeoJson(_EOF)
    got = {'"': "string", "[": "array"}.get(ch, repr(ch))
    return MalformedGeoJson(f"expected {expected}, got {got}")


class _FeatureScanner:
    """The state of one pass over a FeatureCollection stream: the buffer
    (the unconsumed text starts at ``pos``), the stream and its decoder."""

    def __init__(self, stream, chunk_size: int):
        import codecs

        self.stream = stream
        self.chunk = chunk_size
        self.buf = ""
        self.pos = 0
        self.eof = False
        # incremental decode for byte streams: a multibyte UTF-8 character
        # straddling a chunk boundary must not raise on the partial sequence
        self.decoder = codecs.getincrementaldecoder("utf-8")()

    def _more(self) -> bool:
        """Append input to the buffer; False (buffer untouched) at end of
        input. Reads at least as much as is pending, so the retries of one
        long value add up to O(its length)."""
        if self.eof:
            return False
        want = max(self.chunk, len(self.buf) - self.pos)
        data = ""
        while not data:
            data = self.stream.read(want)
            if not data:
                # a dangling partial sequence at EOF is a real error
                self.decoder.decode(b"", final=True)
                self.eof = True
                return False
            if isinstance(data, bytes):
                data = self.decoder.decode(data)
        if self.pos > self.chunk:
            # drop the consumed prefix only once it outgrows a chunk: doing
            # it per value would copy the buffer per feature (quadratic)
            self.buf = self.buf[self.pos :] + data
            self.pos = 0
        else:
            self.buf += data
        return True

    def _peek(self) -> str:
        """Skip whitespace; the next character, or "" at end of input."""
        while True:
            self.pos = _WS.match(self.buf, self.pos).end()
            if self.pos < len(self.buf):
                return self.buf[self.pos]
            if not self._more():
                return ""

    def _decode(self):
        """(value, end) of the JSON value at ``pos``, parsed by the C
        scanner. Reads more only while the error can be the buffer's end;
        any other error raises at once, positioned from the value's start
        (for a feature: the same line/column as parsing its text alone)."""
        while True:
            buf = self.buf
            try:
                obj, end = STRICT_DECODER.raw_decode(buf, self.pos)
            except json.JSONDecodeError as e:
                unterminated = e.msg.startswith("Unterminated string")
                if (unterminated or len(buf) - e.pos <= _TAIL) and self._more():
                    continue
                rel = json.JSONDecodeError(e.msg, buf[self.pos :], e.pos - self.pos)
                detail = str(rel)
                if unterminated or e.pos >= len(buf):
                    detail = f"{_EOF}: {detail}"
                raise MalformedGeoJson(detail, lineno=rel.lineno, colno=rel.colno) from None
            # a number may go on in the next chunk ("1.5" of "1.5e3")
            if not isinstance(obj, (int, float)) or len(buf) - end > _TAIL or not self._more():
                return obj, end

    def _skip(self) -> None:
        """Move ``pos`` past the array or object at ``pos`` without parsing
        it, so a large foreign member costs one chunk of memory."""
        depth = 0
        while True:
            m = _SKIP.match(self.buf, self.pos)
            if m is None:
                if not self._more():
                    raise MalformedGeoJson(_EOF)
                continue
            self.pos = m.end()
            ch = self.buf[self.pos - 1]
            if ch in "[{":
                depth += 1
            elif ch in "]}":
                depth -= 1
                if depth == 0:
                    return

    def _features(self) -> Iterator[tuple[str, Any]]:
        self.pos += 1  # '['
        ch = self._peek()
        if ch == "]":
            self.pos += 1
            return
        while True:
            if ch != "{":
                # the other parse paths reject non-object features; yielding
                # 0 rows would accept malformed input on exactly one routing
                raise _unexpected(ch, "Feature object")
            obj, end = self._decode()
            yield self.buf[self.pos : end], obj
            self.pos = end
            ch = self._peek()
            if ch == "]":
                self.pos += 1
                return
            if ch != ",":
                raise _unexpected(ch, "',' or ']' after a feature")
            self.pos += 1
            ch = self._peek()

    def _collection(self) -> Iterator[tuple[str, Any]]:
        """The features of the object at ``pos``; its other members are
        skipped (scalars are still parsed, so they are validated)."""
        self.pos += 1  # '{'
        found = False
        ch = self._peek()
        while ch != "}":
            if ch != '"':
                raise _unexpected(ch, "a member name")
            key, self.pos = self._decode()
            ch = self._peek()
            if ch != ":":
                raise _unexpected(ch, f"':' after member {key!r}")
            self.pos += 1
            ch = self._peek()
            if key == "features":
                if ch != "[":
                    raise MalformedGeoJson("FeatureCollection has no `features` array")
                found = True
                yield from self._features()
            elif ch in ("[", "{"):
                self._skip()
            else:
                _, self.pos = self._decode()
            ch = self._peek()
            if ch == ",":
                self.pos += 1
                ch = self._peek()
                if ch == "}":
                    raise MalformedGeoJson("trailing ',' in FeatureCollection")
            elif ch != "}":
                raise _unexpected(ch, f"',' or '}}' after member {key!r}")
        self.pos += 1
        if not found:
            raise MalformedGeoJson("FeatureCollection has no `features` array")

    def __iter__(self) -> Iterator[tuple[str, Any]]:
        # whitespace-separated objects (one FeatureCollection per line)
        # stream one after another
        ch = self._peek()
        if ch != "{":
            raise MalformedGeoJson("FeatureCollection has no `features` array")
        while ch:
            if ch != "{":
                raise MalformedGeoJson(f"unexpected {ch!r} after the FeatureCollection")
            yield from self._collection()
            ch = self._peek()


def iter_features(stream, chunk_size: int = 1 << 20) -> Iterator[tuple[str, Any]]:
    """Yield ``(text, value)`` per feature of a FeatureCollection byte/str
    stream: the exact source slice and its parse (``loads_json`` strictness).

    Single pass, memory bounded by one feature + one chunk: a structural
    walk of the top-level object hands each ``features`` element to the
    stdlib C scanner and skips every other member. Malformed structure
    (separators, non-object features, truncation) raises MalformedGeoJson
    as soon as it is read.
    """
    return iter(_FeatureScanner(stream, chunk_size))


def iter_feature_strings(stream, chunk_size: int = 1 << 20) -> Iterator[str]:
    """Yield each feature's JSON text from a FeatureCollection byte/str stream
    (the text half of :func:`iter_features`)."""
    for text, _ in iter_features(stream, chunk_size):
        yield text


def _has_toplevel_features(head: str) -> bool:
    """True if a top-level (depth-1) ``"features": [`` KEY is visible in
    ``head`` — the sniff-cap disambiguator between a huge FC with a
    trailing ``type`` key (streamable) and a huge single document (not).
    Tracks strings, escapes and nesting depth.

    Two guards keep non-FC documents out: the root must be an object (a
    top-level ARRAY like ``["features", [1]]`` is never an FC), and a
    depth-1 string only counts as the ``features`` key if the next
    non-space character is ``:`` (the string ``"features"`` as an array
    ELEMENT followed by ``[`` must not match)."""
    depth = 0
    in_str = False
    esc = False
    collecting = False
    pending: list[str] = []
    last = ""
    closed_str: str | None = None  # depth-1 string awaiting ':' to be a key
    seen_root = False
    for ch in head:
        if in_str:
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == '"':
                in_str = False
                if collecting:
                    closed_str = "".join(pending)
                    collecting = False
                    pending = []
            elif collecting:
                pending.append(ch)
            continue
        if ch in " \t\r\n\ufeff":  # utf-8 open() does not strip a BOM
            continue
        if closed_str is not None:
            last = closed_str if ch == ":" else ""
            closed_str = None
            if ch == ":":
                continue
        if not seen_root:
            seen_root = True
            if ch != "{":
                return False
        if ch == '"':
            in_str = True
            if depth == 1:
                collecting = True
                pending = []
        elif ch in "{[":
            if ch == "[" and depth == 1 and last == "features":
                return True
            depth += 1
            last = ""
        elif ch in "}]":
            depth -= 1
            last = ""
        else:
            last = ""
    return False


def _feature_rows(feats: list[dict], base_idx: int) -> pd.DataFrame:
    rows = []
    for i, f in enumerate(feats):
        g = f.get("geometry")
        rows.append(
            {
                "feature_idx": base_idx + i,
                "geometry": g,
                "bbox": f.get("bbox"),
                "id_json": f.get("id_json"),
                "properties": f.get("properties"),
                "foreign_members": f.get("foreign_members"),
            }
        )
    return pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])


def read_geojson(
    spark: SparkSession, path: str, batch_size: int = 4096, properties_schema=None,
    sniff_cap: int = 1 << 24,
) -> DataFrame:
    """Read GeoJSON file(s) → DataFrame[FEATURE_SCHEMA + source_file].

    Accepts FeatureCollection documents, bare Features, bare Geometries,
    and newline-delimited GeoJSON. Parallel across files; bounded memory
    within a file. With ``properties_schema`` (R3 — FeatureReader::
    deserialize, src/feature_reader.rs:154-156), properties flatten onto
    typed columns via ``features_to_table``.
    """
    files_df = spark.read.format("binaryFile").load(path).select("path")

    def scan(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            for fpath in pdf["path"]:
                local = fpath[len("file:") :] if fpath.startswith("file:") else fpath
                # utf-8-sig: a Windows-exported file's leading BOM would
                # otherwise defeat the sniffer ('﻿' is not a JSON
                # token) and then crash json.loads on the whole doc
                with open(local, encoding="utf-8-sig") as fh:
                    # grow the sniff window until the top-level "type" is
                    # visible (a long foreign-member preamble can push it
                    # past any fixed prefix); cap keeps memory bounded
                    head = fh.read(4096)
                    kind = _sniff_kind(head)
                    while kind is None and len(head) < sniff_cap:
                        # geometric growth: each retry doubles the window,
                        # so the repeated full rescans sum to O(n), not
                        # O(n²/chunk)
                        more = fh.read(min(max(1 << 16, len(head)), sniff_cap - len(head)))
                        if not more:
                            break
                        head += more
                        kind = _sniff_kind(head)
                    if kind is None:
                        # Undecided at EOF: the whole file fit in the sniff
                        # window, so a whole-doc parse is memory-bounded.
                        # Undecided at the CAP is different — the top-level
                        # "type" may sit past 16 MB. If a top-level
                        # `features` array is visible in the window, this
                        # is a huge FC with a trailing type key: route to
                        # the streaming scanner so the O(1-feature) path
                        # isn't abandoned on exactly the files that need
                        # it. Otherwise it's a big single doc (e.g. a 20 MB
                        # bare geometry whose type follows its coordinate
                        # array) — the whole-file read is then unavoidable,
                        # and is what parsing it requires anyway.
                        at_eof = len(head) < sniff_cap or fh.read(1) == ""
                        if not at_eof and _has_toplevel_features(head):
                            kind = "FeatureCollection"
                        else:
                            kind = "single"
                    fh.seek(0)
                    if kind == "FeatureCollection":
                        batch: list[dict] = []
                        idx = 0
                        for _, obj in iter_features(fh):
                            batch.append(parse_feature_obj(obj))
                            if len(batch) >= batch_size:
                                out = _feature_rows(batch, idx)
                                out["source_file"] = fpath
                                yield out
                                idx += len(batch)
                                batch = []
                        if batch:
                            out = _feature_rows(batch, idx)
                            out["source_file"] = fpath
                            yield out
                    else:
                        text = fh.read()
                        if not text.strip():
                            parsed = []  # empty file → zero features
                        else:
                            docs = [text] if kind != "ndjson" else [
                                ln for ln in text.splitlines() if ln.strip()
                            ]
                            try:
                                parsed = [parse_geojson(doc) for doc in docs]
                            except MalformedGeoJson:
                                # the sniffer can misroute ndjson whose
                                # first line overflows the window or is
                                # blank — retry feature-per-line before
                                # failing the file. Retry ONLY when the
                                # first line is itself complete JSON (the
                                # ndjson signature): a pretty-printed doc
                                # with a SEMANTIC error would otherwise
                                # re-raise a misleading line-1 syntax
                                # error in place of the real diagnostic.
                                lines = [
                                    ln for ln in text.splitlines() if ln.strip()
                                ]
                                if kind == "ndjson" or len(lines) <= 1:
                                    raise
                                try:
                                    loads_json(lines[0])
                                    first_is_json = True
                                except MalformedGeoJson:
                                    first_is_json = False
                                if not first_is_json:
                                    raise  # original (semantic) diagnostic
                                parsed = [parse_geojson(ln) for ln in lines]
                        feats = []
                        for k, obj in parsed:
                            if k == "Feature":
                                feats.append(obj)
                            elif k == "Geometry":
                                feats.append(
                                    {"geometry": obj, "bbox": None, "id_json": None,
                                     "properties": None, "foreign_members": None}
                                )
                            else:
                                feats.extend(obj["features"])
                        out = _feature_rows(feats, 0)
                        out["source_file"] = fpath
                        yield out

    from pyspark.sql.types import StructField, StructType

    # note: StructType.add mutates in place — build a fresh copy
    schema = StructType(list(FEATURE_SCHEMA.fields) + [StructField("source_file", StringType())])
    # binaryFile bin-packs small files into very few input partitions
    # (openCost 4 MB → ~30 small files in ONE FilePartition), which would
    # serialize the whole pandas-UDF parse on one core — the CLAUDE.md
    # small-input rule; spread the file list first
    from geojson_spark.functions.spark_funcs import ensure_min_partitions

    out = ensure_min_partitions(files_df).mapInPandas(scan, schema=schema)
    if properties_schema is not None:
        out = features_to_table(out, properties_schema)
    return out


def read_geojson_stream(
    spark: SparkSession,
    path: str,
    properties_schema=None,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """R-family, streaming variant: a Structured Streaming source over
    newline-delimited GeoJSON (one Feature document per line).

    ndjson is the only framing that streams: a FeatureCollection envelope
    is not complete until its closing bracket, which is exactly why the
    reference reads FCs through a pull-based FeatureIterator
    (src/feature_iterator.rs:30-32, O(1-feature) memory) and web-scale
    pipelines ship feature-per-line. ``spark.readStream.text`` →
    the same Arrow-batched ``parse_feature_udf`` as the batch path, so
    stream and batch parses are identical by construction; downstream
    cell assignment / windowed aggs / stateful ops compose unchanged.
    With ``properties_schema``, properties flatten onto typed columns
    (streaming-safe: a pure projection). ``max_files_per_trigger`` bounds
    each micro-batch (file-source option) — kill→resume tests use 1 file
    per batch so batch boundaries are deterministic.
    """
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = reader.text(path)
    feats = (
        lines.where(F.length(F.trim(F.col("value"))) > 0)
        .select(parse_feature_udf(F.col("value")).alias("f"))
        .select("f.*")
    )
    if properties_schema is not None:
        feats = features_to_table(feats, properties_schema)
    return feats


def _top_level_type(text: str) -> str | None:
    """Value of the TOP-LEVEL ``"type"`` member of a JSON object prefix,
    via a string/nesting-aware scan — a substring probe mis-routes when a
    property value contains the literal ``"FeatureCollection"`` or when a
    long foreign-member preamble precedes the type key. Returns None when
    ``text`` ends before the answer is known (caller reads more), and
    ``""`` when the object closes without a type member."""
    i, n = 0, len(text)
    while i < n and text[i].isspace():
        i += 1
    if i >= n:
        return None
    if text[i] != "{":
        return ""
    depth = 0
    key_next = True
    while i < n:
        ch = text[i]
        if ch == '"':
            j = i + 1
            while j < n:
                c = text[j]
                if c == "\\":
                    j += 2
                    continue
                if c == '"':
                    break
                j += 1
            if j >= n:
                return None  # truncated mid-string
            if depth == 1 and key_next and text[i + 1 : j] == "type":
                k = j + 1
                while k < n and text[k] in " \t\r\n":
                    k += 1
                if k < n and text[k] == ":":
                    v = k + 1
                    while v < n and text[v] in " \t\r\n":
                        v += 1
                    if v >= n:
                        return None
                    if text[v] == '"':
                        e = text.find('"', v + 1)  # type names have no escapes
                        return None if e == -1 else text[v + 1 : e]
                    return ""  # non-string type: not a GeoJSON envelope
                # a key literally named "type" must be followed by ":";
                # anything else is malformed — fall through as unknown
            if depth == 1 and key_next:
                key_next = False
            i = j + 1
            continue
        if ch in "{[":
            depth += 1
        elif ch in "}]":
            depth -= 1
            if depth == 0:
                return ""  # object closed without a type member
        elif ch == "," and depth == 1:
            key_next = True
        elif ch == ":" and depth == 1:
            key_next = False
        i += 1
    return None


def _sniff_kind(head: str) -> str | None:
    """Route a document prefix: "FeatureCollection" (streamed feature-by-
    feature), "ndjson", "single" (whole-doc parse), or None = undecided —
    the caller should extend ``head`` and retry."""
    t = _top_level_type(head)
    s = head.lstrip()
    if "\n" in head.strip() and s.startswith("{") and t != "FeatureCollection":
        # possibly ndjson — first line is a complete JSON document
        first = head.splitlines()[0].strip()
        if first.endswith("}"):
            try:
                json.loads(first)
                return "ndjson"
            except ValueError:
                pass
    if t == "FeatureCollection":
        return "FeatureCollection"
    if t is None:
        return None
    return "single"


# ---------------------------------------------------------------------------
# column UDFs
# ---------------------------------------------------------------------------


def parse_features_udf(docs_col, strict: bool = True):
    """String column of GeoJSON documents → array<FEATURE_SCHEMA-ish struct>.

    Use with F.explode to get one row per feature. In permissive mode,
    malformed documents yield an ``error`` entry instead of raising
    (reference is strict; permissive is our extension, SURVEY.md §2.1-P7).
    """
    from pyspark.sql.types import ArrayType, StructField, StructType

    elem = StructType(FEATURE_SCHEMA.fields + [StructField("error", StringType())])

    @F.pandas_udf(ArrayType(elem))
    def _parse(s: pd.Series) -> pd.Series:
        out = []
        for doc in s:
            feats = []
            try:
                kind, obj = parse_geojson(doc)
                if kind == "FeatureCollection":
                    fs = obj["features"]
                elif kind == "Feature":
                    fs = [obj]
                else:
                    fs = [{"geometry": obj, "bbox": None, "id_json": None,
                           "properties": None, "foreign_members": None}]
                for i, f in enumerate(fs):
                    feats.append(
                        {
                            "feature_idx": i,
                            "geometry": f.get("geometry"),
                            "bbox": f.get("bbox"),
                            "id_json": f.get("id_json"),
                            "properties": f.get("properties"),
                            "foreign_members": f.get("foreign_members"),
                            "error": None,
                        }
                    )
            except MalformedGeoJson as e:
                if strict:
                    raise
                feats = [{"feature_idx": 0, "geometry": None, "bbox": None,
                          "id_json": None, "properties": None,
                          "foreign_members": None, "error": str(e)}]
            except Exception as e:  # engine error surface (strict mode re-raises)
                if strict:
                    raise
                feats = [{"feature_idx": 0, "geometry": None, "bbox": None,
                          "id_json": None, "properties": None,
                          "foreign_members": None, "error": str(e)}]
            out.append(feats)
        return pd.Series(out)

    return _parse(docs_col)


def parse_geometry_udf(geom_json_col, strict: bool = True):
    """C2 — de::deserialize_geometry / deserialize_optional_geometry
    (src/de.rs:228-238, 274-286): field-level GeoJSON geometry string →
    geometry struct. Null input stays null (the optional variant); a
    non-geometry document raises ExpectedType (strict) or nulls out."""
    from geojson_spark.functions.geojson_codec import geojson_to_geometry, parse_geojson
    from geojson_spark.schema import GEOMETRY_STRUCT

    names = [f.name for f in GEOMETRY_STRUCT.fields]
    null_row = {n: None for n in names}

    @F.pandas_udf(GEOMETRY_STRUCT)
    def _parse(s: pd.Series) -> pd.DataFrame:
        rows = []
        for doc in s:
            if doc is None:
                rows.append(null_row)
                continue
            try:
                kind, obj = parse_geojson(doc)
                rows.append(geojson_to_geometry(kind, obj))
            except Exception:
                if strict:
                    raise
                rows.append(null_row)
        return pd.DataFrame(rows, columns=names)

    return _parse(geom_json_col)


def parse_feature_udf(doc_col, strict: bool = True):
    """C3 — de::deserialize_single_feature / from_feature (src/de.rs:
    341-349, 392-400): ONE Feature document per row → feature struct
    (no explode). A FeatureCollection or bare geometry raises
    ExpectedType (strict) or nulls out."""
    from geojson_spark.functions.geojson_codec import geojson_to_feature, parse_geojson

    names = [f.name for f in FEATURE_SCHEMA.fields]
    null_row = {n: None for n in names}

    @F.pandas_udf(FEATURE_SCHEMA)
    def _parse(s: pd.Series) -> pd.DataFrame:
        rows = []
        for doc in s:
            if doc is None:
                rows.append(null_row)
                continue
            try:
                kind, obj = parse_geojson(doc)
                f = geojson_to_feature(kind, obj)
                rows.append({"feature_idx": 0, **{k: f.get(k) for k in names if k != "feature_idx"}})
            except Exception:
                if strict:
                    raise
                rows.append(null_row)
        return pd.DataFrame(rows, columns=names)

    return _parse(doc_col)


def to_feature_json(feature_struct_col):
    """Feature struct column → compact GeoJSON Feature string (S1/S3).

    An Arrow UDF: each batch arrives as one ``pa.StructArray`` and goes
    through ``serialize_features_batch`` whole."""

    @F.arrow_udf(StringType())
    def _ser(s: pa.Array) -> pa.Array:
        return pa.array(serialize_features_batch(s), pa.string())

    return _ser(feature_struct_col)


def to_geometry_json(geometry_struct_col):
    """Geometry struct column → compact GeoJSON geometry string (null for
    a null geometry), through ``serialize_geometries_batch``."""

    @F.arrow_udf(StringType())
    def _ser(s: pa.Array) -> pa.Array:
        return pa.array(serialize_geometries_batch(s), pa.string())

    return _ser(geometry_struct_col)


# ---------------------------------------------------------------------------
# typed projections (C1/C3 ⇄ S5)
# ---------------------------------------------------------------------------


def features_to_table(df: DataFrame, properties_schema) -> DataFrame:
    """C1 — de::deserialize_feature_collection (src/de.rs:147-189): flatten
    ``properties.*`` onto typed columns, keep geometry + id, DROP foreign
    members (the reference logs-and-drops them, src/de.rs:467-469). A plain
    projection: ``from_json`` + ``select`` — no UDF."""
    typed = df.withColumn("_p", F.from_json(F.col("properties"), properties_schema))
    keep = ["geometry", "id_json"]
    cols = [F.col(c) for c in keep if c in df.columns]
    cols += [F.col(f"_p.{f.name}").alias(f.name) for f in properties_schema.fields]
    return typed.select(*cols)


def table_to_features(df: DataFrame, *, geometry_col: str = "geometry",
                      id_col: str | None = None) -> DataFrame:
    """S5 — ser::FeatureWrapper (src/ser.rs:413-476): hoist ``geometry``
    (error if the column is missing, :455-463) and optional ``id``; every
    remaining column nests under ``properties``."""
    if geometry_col not in df.columns:
        # reference: custom Serialize error "missing `geometry` field"
        raise MalformedGeoJson("missing `geometry` field")
    rest = [c for c in df.columns if c not in (geometry_col, id_col)]
    if id_col:
        # id string|number union → JSON literal text (src/feature.rs:244-249).
        # String ids go through to_json so backslashes/quotes/control chars
        # escape correctly: to_json(array(x)) = '["…"]', strip the brackets.
        if df.schema[id_col].dataType.simpleString() == "string":
            idj = F.expr(
                f"substring(to_json(array(`{id_col}`)), 2, "
                f"length(to_json(array(`{id_col}`))) - 2)"
            )
        else:
            idj = F.col(id_col).cast("string")
    else:
        idj = F.lit(None).cast("string")
    out = df.select(
        F.monotonically_increasing_id().alias("feature_idx"),
        F.col(geometry_col).alias("geometry"),
        F.lit(None).cast("array<double>").alias("bbox"),
        idj.alias("id_json"),
        F.to_json(
            F.struct(*[F.col(c) for c in rest]),
            {"ignoreNullFields": "false"},  # reference serializes null props
        ).alias("properties"),
        F.lit(None).cast("string").alias("foreign_members"),
    )
    return out


# ---------------------------------------------------------------------------
# sinks
# ---------------------------------------------------------------------------


class GeoJsonFeatureWriter:
    """Incremental FeatureCollection writer — FeatureWriter parity.

    Same 4-state machine as src/feature_writer.rs:7-13 (New →
    WritingForeignMembers → WritingFeatures → Finished): foreign members
    must precede features (:184-212), finish() on an unstarted writer emits
    an empty FC (:218-236), writing after finish is an error, and close()
    auto-finishes (Drop behavior, :260-268).
    """

    NEW, FM, FEATURES, FINISHED = range(4)

    def __init__(self, fh):
        self._fh = fh
        self._state = self.NEW

    def write_foreign_member(self, key: str, value) -> None:
        if self._state == self.FINISHED:
            raise InvalidWriterState("cannot write foreign members after finish")
        if self._state == self.NEW:
            self._fh.write('{"type":"FeatureCollection"')
            self._state = self.FM
        if self._state != self.FM:
            raise InvalidWriterState(
                "must write foreign members before any features"
            )
        self._fh.write("," + dumps_json(key) + ":" + dumps_json(value))

    def write_feature(self, feature: dict) -> None:
        self.write_feature_json(serialize_feature(feature))

    def write_feature_json(self, feature_json: str) -> None:
        if self._state in (self.NEW, self.FM):
            if self._state == self.NEW:
                self._fh.write('{"type":"FeatureCollection"')
            self._fh.write(',"features":[')
            self._state = self.FEATURES
            self._first = True
        if self._state == self.FINISHED:
            raise InvalidWriterState("cannot write features after finish")
        if not self._first:
            self._fh.write(",")
        self._first = False
        self._fh.write(feature_json)

    def finish(self) -> None:
        if self._state == self.FINISHED:
            raise InvalidWriterState("already finished")
        if self._state == self.NEW:
            self._fh.write('{"type":"FeatureCollection","features":[]}')
        elif self._state == self.FM:
            self._fh.write(',"features":[]}')
        else:
            self._fh.write("]}")
        self._state = self.FINISHED

    def close(self) -> None:
        if self._state != self.FINISHED:
            self.finish()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
        return False


def write_geojson(df: DataFrame, path: str, feature_col: str = "feature_json") -> None:
    """DataFrame → a directory of FeatureCollection shard documents, in one
    Arrow pass.

    Each partition is one ``mapInArrow`` task: it serializes its Arrow
    batches with ``serialize_features_batch`` (or takes ``feature_col``'s
    strings when the frame has that column) and streams them through
    GeoJsonFeatureWriter into its own complete, spec-valid
    ``part-NNNNN.geojson`` (FeatureWriter semantics at cluster scale: no
    buffering of the whole collection). An empty partition writes no
    shard. Pre-existing shards are removed first so a rerun with fewer
    partitions cannot leave stale data behind.
    """
    os.makedirs(path, exist_ok=True)
    for old in os.listdir(path):
        if old.startswith("part-") and old.endswith(".geojson"):
            os.remove(os.path.join(path, old))

    given = feature_col in df.columns
    cols = [feature_col] if given else [n for n in FEATURE_SCHEMA.names if n != "feature_idx"]

    def write_shard(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        tmp = os.path.join(path, f".part-{pid:05d}.geojson.tmp")
        final = os.path.join(path, f"part-{pid:05d}.geojson")
        n = 0
        try:
            with open(tmp, "w", encoding="utf-8") as fh, GeoJsonFeatureWriter(fh) as w:
                for batch in batches:
                    texts = (batch.column(0).to_numpy(zero_copy_only=False).tolist() if given
                             else serialize_features_batch(batch.to_struct_array()))
                    for text in texts:
                        if text is not None:
                            w.write_feature_json(text)
                            n += 1
        except BaseException:
            os.remove(tmp)  # a failed task leaves no partial shard behind
            raise
        if n:
            os.replace(tmp, final)
        else:
            os.remove(tmp)
        yield pa.record_batch({"features": pa.array([n], pa.int64())})

    df.select(*cols).mapInArrow(write_shard, "features long").collect()


def explode_geometry_collections(df, geometry_col: str = "geometry", *, recursive: bool = True):
    """Unnest GeometryCollection rows to one row per child geometry.

    Non-collection rows pass through with ``child_idx`` -1; collection rows
    explode to their children (``recursive=True`` also flattens nested
    collections, matching the reference's GeoJson → geo GeometryCollection
    flattening, src/conversion/to_geo_types.rs:240-272). Lets PIP/kNN/tile
    operators — defined over concrete geometries — run on tables that
    contain collections.
    """
    import json as _json

    from pyspark.sql.types import ArrayType as _Arr
    from pyspark.sql.types import IntegerType as _Int
    from pyspark.sql.types import StructField as _SF
    from pyspark.sql.types import StructType as _ST

    from geojson_spark.schema import GEOMETRY_STRUCT

    child_schema = _ST(
        [_SF("child_idx", _Int())] + [_SF(f.name, f.dataType) for f in GEOMETRY_STRUCT.fields]
    )

    @F.pandas_udf(_Arr(child_schema))
    def _children(geoms_json: pd.Series) -> pd.Series:
        from geojson_spark.functions.geojson_codec import parse_geometry_obj

        out = []
        for gj in geoms_json:
            if gj is None:
                out.append([])
                continue
            children, queue = [], list(_json.loads(gj))
            while queue:
                parsed = parse_geometry_obj(queue.pop(0))
                if recursive and parsed["geom_type"] == "GeometryCollection":
                    queue[:0] = _json.loads(parsed["geoms_json"])
                else:
                    children.append({"child_idx": len(children), **parsed})
            out.append(children)
        return pd.Series(out)

    g = F.col(geometry_col)
    is_gc = g["geom_type"] == "GeometryCollection"
    plain = df.where(~is_gc | g["geom_type"].isNull()).withColumn(
        "child_idx", F.lit(-1)
    )
    gc = (
        df.where(is_gc)
        .withColumn("_child", F.explode_outer(_children(g["geoms_json"])))  # outer: an EMPTY collection keeps its row (null children)
        .withColumn("child_idx", F.col("_child.child_idx"))
        .withColumn(
            geometry_col,
            F.struct(
                *[F.col(f"_child.{f.name}").alias(f.name) for f in GEOMETRY_STRUCT.fields]
            ),
        )
        .drop("_child")
    )
    return plain.unionByName(gc)
