"""Property-based round-trip tests for the GeoJSON codec (hypothesis).

The reference pins fidelity with 16 canonical fixtures
(/root/reference/tests/roundtrip.rs:28-65); these properties generalize
that: for ANY spec-valid document, parse → serialize must be semantically
lossless (same normalization rules the reference applies: `properties`
always emitted, empty foreign-member maps dropped, `type` first) and the
serializer must be idempotent (serialize∘parse∘serialize == serialize).
"""

from __future__ import annotations

import json
import math

from hypothesis import example, given, settings
from hypothesis import strategies as st

from geojson_spark.functions.geojson_codec import parse_geojson, serialize_geojson

# finite floats that survive json round-trips exactly (shortest-repr)
coord = st.one_of(
    st.integers(min_value=-1000, max_value=1000).map(float),
    st.floats(
        min_value=-180.0, max_value=180.0, allow_nan=False, allow_infinity=False
    ),
)
position = st.lists(coord, min_size=2, max_size=3).map(list)


def _ring():
    # closed ring with >= 4 positions
    return st.lists(position, min_size=3, max_size=5).map(lambda ps: ps + [ps[0]])


point = st.fixed_dictionaries({"type": st.just("Point"), "coordinates": position})
multipoint = st.fixed_dictionaries(
    {"type": st.just("MultiPoint"), "coordinates": st.lists(position, max_size=4)}
)
linestring = st.fixed_dictionaries(
    {"type": st.just("LineString"), "coordinates": st.lists(position, min_size=2, max_size=5)}
)
multilinestring = st.fixed_dictionaries(
    {
        "type": st.just("MultiLineString"),
        "coordinates": st.lists(st.lists(position, min_size=2, max_size=4), max_size=3),
    }
)
polygon = st.fixed_dictionaries(
    {"type": st.just("Polygon"), "coordinates": st.lists(_ring(), max_size=3)}
)
multipolygon = st.fixed_dictionaries(
    {
        "type": st.just("MultiPolygon"),
        "coordinates": st.lists(st.lists(_ring(), min_size=1, max_size=2), max_size=2),
    }
)
simple_geometry = st.one_of(point, multipoint, linestring, multilinestring, polygon, multipolygon)
geometry = st.one_of(
    simple_geometry,
    st.fixed_dictionaries(
        {
            "type": st.just("GeometryCollection"),
            "geometries": st.lists(simple_geometry, max_size=3),
        }
    ),
)

json_scalar = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**31), max_value=2**31),
    st.text(max_size=12),
)
properties = st.one_of(
    st.none(),
    st.dictionaries(st.text(min_size=1, max_size=8), json_scalar, max_size=4),
)
feature_id = st.one_of(st.text(max_size=8), st.integers(min_value=-(2**31), max_value=2**31))

feature = st.builds(
    lambda geom, props, fid, with_id: {
        "type": "Feature",
        "geometry": geom,
        "properties": props,
        **({"id": fid} if with_id else {}),
    },
    st.one_of(st.none(), geometry),
    properties,
    feature_id,
    st.booleans(),
)
feature_collection = st.builds(
    lambda feats: {"type": "FeatureCollection", "features": feats},
    st.lists(feature, max_size=4),
)
document = st.one_of(geometry, feature, feature_collection)


def _normalize(o):
    """Expected output-side normalization (matches the reference: Feature
    always emits `properties`; numbers compare by value)."""
    if isinstance(o, dict):
        out = {k: _normalize(v) for k, v in o.items()}
        if o.get("type") == "Feature" and "properties" not in o:
            out["properties"] = None
        return out
    if isinstance(o, list):
        return [_normalize(v) for v in o]
    if isinstance(o, float) and o == int(o) and not math.isinf(o):
        return o  # json round-trips floats exactly; 1.0 stays 1.0 by value
    return o


@settings(max_examples=200, deadline=None)
@given(document)
def test_roundtrip_semantic_and_idempotent(doc):
    src = json.dumps(doc)
    kind, obj = parse_geojson(src)
    out1 = serialize_geojson(kind, obj)
    kind2, obj2 = parse_geojson(out1)
    out2 = serialize_geojson(kind2, obj2)
    assert out2 == out1, "serializer must be idempotent"
    assert json.loads(out1) == _normalize(doc), "round-trip must be semantically lossless"
    # spec shape: `type` is the first key of every serialized object
    assert out1.startswith('{"type":')


@settings(max_examples=100, deadline=None)
@given(feature, st.dictionaries(st.text(min_size=1, max_size=6), json_scalar, min_size=1, max_size=3))
def test_foreign_members_roundtrip(feat, extras):
    reserved = {"type", "geometry", "properties", "id", "bbox", "features", "coordinates", "geometries"}
    extras = {k: v for k, v in extras.items() if k not in reserved}
    doc = {**feat, **extras}
    kind, obj = parse_geojson(json.dumps(doc))
    back = json.loads(serialize_geojson(kind, obj))
    for k, v in extras.items():
        assert back[k] == v, f"foreign member {k!r} must survive"


def test_whitespace_class_consistent_across_engine_and_oracles():
    """Every tokenizing split in the engine and every DuckDB oracle must
    use the ONE canonical whitespace set (text.WS_CLASS) — Python \\s,
    Java \\s, and RE2 \\s disagree on \\x0B/NBSP, which silently breaks
    Spark↔DuckDB parity. The oracle strings may spell the class with
    backslash escapes or literal control characters; normalize both."""
    import re as _re

    import __spark_entry__ as E
    from geojson_spark.functions.text import WS_CLASS

    def charset(cls_text: str) -> frozenset:
        # interpret backslash escapes if present, then collect the chars
        body = cls_text[1:-1]
        body = body.encode().decode("unicode_escape")
        return frozenset(body)

    canon = charset(WS_CLASS)
    assert canon == frozenset(" \t\n\x0b\f\r")
    seen = 0
    for name, sql in E.oracle_sql().items():
        # the first argument may contain nested parens/commas/quotes
        # (e.g. coalesce(text, '')); match any split-class literal that
        # follows a string_split_regex call on the same statement
        for m in _re.finditer(
            r"string_split_regex\((?:[^,']|'[^']*'|\([^()]*\))+,\s*'(\[[^]]*\])\+'",
            sql,
        ):
            seen += 1
            assert charset(m.group(1)) == canon, (name, repr(m.group(1)))
    assert seen >= 8  # minhash, simhash, contamination, lang×2, corpus×2, jaccard…


# --- round-4 additions: fuzz the paths hardened this round ---------------

# floats whose repr uses exponent form (1e16 / 1e-07) — exercises _fmt_f's
# serde-exponent normalization on every serialization path
wild_coord = st.one_of(
    coord,
    st.floats(min_value=1e15, max_value=1e18, allow_nan=False, allow_infinity=False),
    st.floats(min_value=1e-9, max_value=1e-5, allow_nan=False, allow_infinity=False),
    st.floats(min_value=-1e18, max_value=-1e15, allow_nan=False, allow_infinity=False),
)
wild_position = st.lists(wild_coord, min_size=2, max_size=3).map(list)
# deliberately RAGGED: per-position dims drawn independently, so many
# samples mix 2-D and 3-D and take the raw-fallback path
ragged_multipoint = st.fixed_dictionaries(
    {"type": st.just("MultiPoint"),
     "coordinates": st.lists(wild_position, min_size=1, max_size=5)}
)
ragged_linestring = st.fixed_dictionaries(
    {"type": st.just("LineString"),
     "coordinates": st.lists(wild_position, min_size=2, max_size=5)}
)


@settings(max_examples=150, deadline=None)
@given(st.one_of(ragged_multipoint, ragged_linestring))
def test_ragged_and_exponent_geometries_roundtrip(doc):
    """Mixed-dim coordinates (raw-fallback path) and exponent-formatted
    floats must round-trip semantically, idempotently, and with serde's
    exponent spelling (never Python's e+NN / e-0N)."""
    src = json.dumps(doc)
    kind, obj = parse_geojson(src)
    out1 = serialize_geojson(kind, obj)
    kind2, obj2 = parse_geojson(out1)
    out2 = serialize_geojson(kind2, obj2)
    assert out2 == out1
    assert json.loads(out1) == _normalize(doc)
    assert "e+" not in out1
    # no zero-padded exponents anywhere (Python prints 1e-05, serde 1e-5)
    import re

    assert not re.search(r"e-0\d", out1)


@settings(max_examples=100, deadline=None)
@given(document)
def test_pretty_print_matches_compact_values(doc):
    """The token-level pretty printer must (a) reparse to exactly the
    compact form's value and (b) agree with json.dumps(indent=2) shape."""
    from geojson_spark.functions.geojson_codec import serialize_geojson_pretty

    kind, obj = parse_geojson(json.dumps(doc))
    compact = serialize_geojson(kind, obj)
    pretty = serialize_geojson_pretty(kind, obj)
    assert json.loads(pretty) == json.loads(compact)
    # shape check against the stdlib (valid when no exponent text differs)
    if "e" not in compact and "E" not in compact:
        assert pretty == json.dumps(
            json.loads(compact), indent=2, ensure_ascii=False
        )


@settings(max_examples=60, deadline=None)
@given(st.lists(feature, min_size=1, max_size=5), st.integers(min_value=3, max_value=64))
def test_streaming_scanner_equals_whole_doc_parse(feats, chunk):
    """iter_feature_strings over a BYTE stream in tiny chunks must yield
    exactly the features the whole-document parser sees — including
    multibyte text straddling chunk boundaries."""
    import io

    from geojson_spark.functions.geojson_codec import parse_feature_obj
    from geojson_spark.sources.geojson import iter_feature_strings

    # inject some non-ASCII property text to stress the chunk decoder
    for i, f in enumerate(feats):
        props = f.get("properties") or {}
        f["properties"] = {**props, "näme": f"züri-{i}"}
    doc = json.dumps({"type": "FeatureCollection", "features": feats},
                     ensure_ascii=False).encode("utf-8")
    scanned = [
        parse_feature_obj(json.loads(s))
        for s in iter_feature_strings(io.BytesIO(doc), chunk_size=chunk)
    ]
    kind, obj = parse_geojson(doc.decode("utf-8"))
    assert kind == "FeatureCollection"
    assert scanned == obj["features"]


@given(
    st.integers(min_value=1, max_value=7),   # number of tiles
    st.integers(min_value=4, max_value=40),  # h (sub-8: duplicate block bounds)
    st.integers(min_value=4, max_value=40),  # w
    st.integers(min_value=0, max_value=2**31 - 1),
)
@example(t=2, h=5, w=24, seed=5)  # a block ties the mean of block means
@settings(max_examples=60, deadline=None)
def test_average_phash_batch_bit_identical_to_scalar(t, h, w, seed):
    """The (T,h,w) batched phash must reproduce the scalar per-image hash
    bit-for-bit — rasterize's render path and the image invariant kernel
    use the batch kernel, and hamming-dedup compatibility depends on exact
    equality. Also with per-image sizes: each image top-left in the stack,
    padded right and below, including few-level (tie-prone) images."""
    import numpy as np

    from geojson_spark.sources.images import average_phash, average_phash_batch

    rng = np.random.default_rng(seed)
    gray = rng.integers(0, 256, size=(t, h, w), dtype=np.uint8)
    got = average_phash_batch(gray)
    for i in range(t):
        rgb = np.repeat(gray[i].reshape(-1), 3)
        assert int(got[i]) == average_phash(rgb, w, h)

    hs = rng.integers(1, h + 1, size=t)
    ws = rng.integers(1, w + 1, size=t)
    gray //= np.uint8(rng.choice([1, 64, 128]))  # 256, 4 or 2 gray levels
    got = average_phash_batch(gray, hs, ws)
    for i in range(t):
        img = gray[i, : hs[i], : ws[i]]
        assert int(got[i]) == average_phash(np.repeat(img.reshape(-1), 3), ws[i], hs[i])


def _image_arrow_schema():
    import pyarrow as pa

    return pa.schema([("image_id", pa.string()), ("bytes", pa.binary()),
                      ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
                      ("caption", pa.string()), ("phash", pa.int64())])


def _damage(row: dict, kind: str, k: int) -> dict:
    """One kind of damage to one image row; ``k`` picks where."""
    row = dict(row)
    b = row["bytes"]
    if kind == "truncate":
        row["bytes"] = b[: k % len(b)]
    elif kind == "extend":
        row["bytes"] = b + bytes([k % 256]) * (1 + k % 4)
    elif kind == "flip":
        j = k % len(b)
        row["bytes"] = b[:j] + bytes([b[j] ^ (1 << k % 8)]) + b[j + 1 :]
    elif kind == "swap_wh":
        row["w"], row["h"] = row["h"], row["w"]
    elif kind == "zero_w":
        row["w"] = 0
    elif kind == "neg_wh":
        row["w"], row["h"] = -row["w"], -row["h"]
    elif kind == "neg_w":
        row["w"] = -row["w"]
    elif kind == "fmt":
        row["fmt"] = ["png", "raw", "rle", "q8", ""][k % 5]
    elif kind == "caption":
        row["caption"] = row["caption"] + "!"
    elif kind == "phash":
        row["phash"] ^= 1 << (k % 64) if k % 64 < 63 else -(1 << 63)
    elif kind.startswith("null_"):
        row[kind[5:]] = None
    elif kind == "id_xyz":
        row["image_id"] = "imgXYZ"
    elif kind == "id_negative":
        row["image_id"] = "img-" + row["image_id"][3:]
    elif kind == "id_long":
        row["image_id"] = row["image_id"] + "9" * 12
    elif kind == "id_zeros":  # leading zeros: the same image, still valid
        row["image_id"] = "img" + "0" * 12 + row["image_id"][3:]
    return row


_DAMAGE = ["none", "none", "none", "truncate", "extend", "flip", "swap_wh", "zero_w",
           "neg_wh", "neg_w", "fmt", "caption", "phash", "null_bytes", "null_caption",
           "null_phash", "null_w", "null_fmt", "null_image_id", "id_xyz", "id_negative",
           "id_long", "id_zeros"]


def _reference_flags(row: dict) -> tuple[bool, bool, bool]:
    """Per-row reference for the batch checker's flags, from the scalar
    building blocks: PSNR needs a regenerable id and bytes that decode to
    w·h·3 pixels; phash needs decodable bytes and a stored phash."""
    import math

    from geojson_spark.sources.images import (
        average_phash,
        decode_image,
        psnr_db,
        regen_caption_and_pixels,
    )

    try:
        caps, pixels = regen_caption_and_pixels([row["image_id"]])
        cap, orig = caps[0], pixels[0]
    except ValueError:
        cap = orig = None
    try:
        dec = decode_image(row["bytes"], row["fmt"], row["w"], row["h"])
    except (TypeError, ValueError):
        dec = None
    psnr_ok = False
    if orig is not None and dec is not None:
        try:
            p = psnr_db(orig, dec)
        except ValueError:  # lengths differ
            p = None
        if p is not None:
            psnr_ok = math.isinf(p) if row["fmt"] in ("raw", "rle") else p >= 40.0
    phash_ok = False
    if dec is not None and row["phash"] is not None:
        try:
            phash_ok = row["phash"] == average_phash(dec, row["w"], row["h"])
        except (IndexError, ValueError):  # w or h < 1
            pass
    caption_ok = cap is not None and row["caption"] == cap
    return psnr_ok, caption_ok, phash_ok


@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=10**9), st.sampled_from(_DAMAGE),
                  st.integers(min_value=0, max_value=2**16)),
        min_size=1, max_size=24,
    ),
    st.sampled_from([1, 4_000, 20_000, 1 << 20]),  # sub-batch budget in bytes
)
@example(rows=[(5, "null_phash", 0), (6, "none", 0), (7, "none", 0)], budget=1 << 20)
@settings(max_examples=80, deadline=None)
def test_batch_checker_flags_match_per_row_reference(rows, budget):
    """The batch invariant kernel's (psnr_ok, caption_ok, phash_ok) equal
    a per-row reference on intact and damaged rows, across sub-batch
    boundaries (small budgets also split the padded phash stack)."""
    from unittest import mock

    import numpy as np
    import pyarrow as pa

    from geojson_spark.sources import images

    ids = np.array([i for i, _, _ in rows], dtype=np.int64)
    good = images._gen_batch(ids, skew=False).drop(columns=["lon", "lat"])
    damaged = [_damage(r, kind, k) for r, (_, kind, k) in
               zip(good.to_dict("records"), rows)]
    batch = pa.RecordBatch.from_pylist(damaged, schema=_image_arrow_schema())
    with mock.patch.object(images, "_SUB_BATCH_BYTES", budget):
        out = pa.Table.from_batches(list(images._check_batches(iter([batch]))))
    assert out.column("image_id").to_pylist() == [r["image_id"] for r in damaged]
    got = list(zip(*(out.column(f).to_pylist() for f in ("psnr_ok", "caption_ok", "phash_ok"))))
    want = [_reference_flags(r) for r in damaged]
    assert got == want
    for (_, kind, _), flags in zip(rows, got):
        if kind in ("none", "id_zeros"):
            assert flags == (True, True, True)


def test_batch_checker_isolates_a_raising_row(monkeypatch):
    """A sub-batch the kernel cannot finish is rerun one row at a time:
    rows that pass alone keep their flags, a row that still raises fails
    all three."""
    import numpy as np
    import pyarrow as pa

    from geojson_spark.sources import images

    rows = images._gen_batch(np.arange(6), skew=False).drop(columns=["lon", "lat"])
    batch = pa.RecordBatch.from_pandas(rows, schema=_image_arrow_schema(), preserve_index=False)
    kernel = images._check_batch

    def fragile(b):
        if b.num_rows > 1 or b.column("image_id")[0].as_py() == rows.image_id[2]:
            raise RuntimeError("unmasked damage")
        return kernel(b)

    monkeypatch.setattr(images, "_check_batch", fragile)
    out = pa.Table.from_batches(list(images._check_batches(iter([batch])))).to_pandas()
    assert out.image_id.tolist() == rows.image_id.tolist()
    flags = out[["psnr_ok", "caption_ok", "phash_ok"]].to_numpy()
    assert flags[[0, 1, 3, 4, 5]].all() and not flags[2].any()


def test_batch_checker_float_phash_column():
    """A phash column that arrives as float64 (a pandas frame with NaN
    becomes a double column) fails only the rows whose value is null or
    not an integer; an integral value compares exactly, never rounded."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from geojson_spark.sources import images

    rows = images._gen_batch(np.arange(3), skew=False).drop(columns=["lon", "lat"])
    stored = rows.phash.tolist()
    flat = {"image_id": "imgXYZ", "bytes": b"\x07" * 192, "w": 8, "h": 8, "fmt": "raw",
            "caption": "", "phash": 0}  # a constant image hashes to 0
    rows = pd.concat([rows, pd.DataFrame([flat])], ignore_index=True)
    rows["phash"] = [np.nan, stored[1] + 0.5, float(stored[2]), 0.0]
    (batch,) = pa.Table.from_pandas(rows, preserve_index=False).to_batches()
    assert batch.schema.field("phash").type == pa.float64()
    out = pa.Table.from_batches(list(images._check_batches(iter([batch]))))
    assert out.column("psnr_ok").to_pylist() == [True, True, True, False]
    assert out.column("caption_ok").to_pylist() == [True, True, True, False]
    assert out.column("phash_ok").to_pylist() == [
        False, False, float(stored[2]) == stored[2], True]


def test_gen_batch_matches_per_row_reference():
    """The batched generator equals the per-row definition byte for byte
    in every column, over ids covering all 625 (w, h) shapes in each of
    the 3 formats."""
    import numpy as np
    import pandas as pd

    from geojson_spark.sources.images import (
        _gen_batch,
        _pixels_for,
        _splitmix64,
        average_phash,
        caption_for,
        decode_image,
        encode_image,
        lonlat_for,
    )

    cand = np.arange(60_000, dtype=np.int64)
    hc = _splitmix64(cand.astype(np.uint64))
    key = ((hc % np.uint64(25)) * np.uint64(25) + (hc >> np.uint64(8)) % np.uint64(25)) * np.uint64(3)
    key = key.astype(np.int64) + cand % 3
    _, first = np.unique(key, return_index=True)
    assert first.size == 625 * 3
    ids = cand[np.sort(first)]

    got = _gen_batch(ids, skew=True)
    hashes = _splitmix64(ids.astype(np.uint64))
    lon, lat = lonlat_for(hashes, True)
    rows = []
    for k, i in enumerate(ids.tolist()):
        x = int(hashes[k])
        w, h = 8 + x % 25, 8 + (x >> 8) % 25
        fmt = ["raw", "rle", "q8"][i % 3]
        buf = encode_image(_pixels_for(i, w, h), fmt)
        rows.append({"image_id": f"img{i:012d}", "bytes": buf, "w": w, "h": h, "fmt": fmt,
                     "caption": caption_for(i, x),
                     "phash": average_phash(decode_image(buf, fmt, w, h), w, h),
                     "lon": lon[k], "lat": lat[k]})
    want = pd.DataFrame(rows, columns=got.columns)
    for c in got.columns:
        assert got[c].tolist() == want[c].tolist(), c
