"""The engine's one image decoder, ``sources.images.decode_batch``, as
luma_histogram and tile_pixels use it: both must equal per-image
``decode_image`` references on every codec, on mixed sizes, on 256² tiles
and across sub-batch boundaries, and must name the first row that does
not decode."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from geojson_spark.sources.images import decode_image, encode_image

_SCHEMA = "tile_id bigint, image_id string, bytes binary, w int, h int, fmt string"


def _image_rows(seed: int = 5) -> pd.DataFrame:
    """Sparse images: 36 of mixed sizes 8²..32² in raw/rle/q8, then 24
    tiles of 256² in raw/rle (4.7 MB of pixels, so every one of 4
    partitions holds more than one sub-batch). Most pixels are black, so
    rle meets runs longer than 255 bytes and tile_pixels skips pixels."""
    rng = np.random.default_rng(seed)
    sizes = [tuple(s) for s in rng.integers(8, 33, (34, 2))] + [(8, 8), (32, 32)]
    fmts = [("raw", "rle", "q8")[k % 3] for k in range(len(sizes))]
    sizes += [(256, 256)] * 24
    fmts += ["raw", "rle"] * 12
    rows = []
    for k, ((w, h), fmt) in enumerate(zip(sizes, fmts)):
        px = rng.integers(1, 256, (w * h, 3), dtype=np.uint8)
        px[rng.random(w * h) > (0.2 if w <= 32 else 0.01)] = 0
        rows.append((k, f"img{k}", encode_image(px.reshape(-1), fmt), int(w), int(h), fmt))
    return pd.DataFrame(rows, columns=["tile_id", "image_id", "bytes", "w", "h", "fmt"])


def _decoded(rows: pd.DataFrame):
    for r in rows.itertuples(index=False):
        yield r, decode_image(r.bytes, r.fmt, r.w, r.h).reshape(r.h, r.w, 3)


def test_rows_span_sub_batches():
    from geojson_spark.sources.images import pixel_sub_batches

    batch = pa.RecordBatch.from_pandas(_image_rows(), preserve_index=False)
    parts = list(pixel_sub_batches(iter([batch])))
    assert len(parts) > 4
    assert sum(p.num_rows for p in parts) == batch.num_rows


def test_luma_histogram_matches_per_image_reference(spark):
    from geojson_spark.sources.images import luma_histogram

    rows = _image_rows()
    got = {r.image_id: (list(r.hist), r.brightness_milli) for r in
           luma_histogram(spark.createDataFrame(rows, _SCHEMA), bins=16).collect()}
    want = {}
    for r, img in _decoded(rows):
        rgb = img.reshape(-1, 3).astype(np.int64)
        luma = (299 * rgb[:, 0] + 587 * rgb[:, 1] + 114 * rgb[:, 2]) // 1000
        want[r.image_id] = (np.bincount(luma * 16 // 256, minlength=16).tolist(),
                            1000 * int(luma.sum()) // (luma.size * 255))
    assert got == want


def test_tile_pixels_matches_per_image_reference(spark):
    from geojson_spark.operators.rasterize import tile_pixels

    rows = _image_rows()
    tiles = spark.createDataFrame(rows, _SCHEMA).coalesce(1)  # one Arrow batch
    got = sorted(tuple(r) for r in tile_pixels(tiles).collect())
    want = []
    for r, img in _decoded(rows):
        py, px = np.nonzero(img[:, :, 0])
        want += [(r.tile_id, int(x), int(y), int(img[y, x, 0]), r.w) for y, x in zip(py, px)]
    assert got == sorted(want)
    assert any(v[4] == 256 for v in want) and any(v[4] <= 32 for v in want)


_RAW_4x4 = bytes(range(48))


@pytest.mark.parametrize("damage, why", [
    ({"bytes": _RAW_4x4[:-1]}, "decoded 47 bytes, expected 48"),
    ({"bytes": encode_image(np.zeros(48, np.uint8), "rle") + b"\x01", "fmt": "rle"},
     "null or truncated rle bytes"),
    ({"bytes": None}, "null or truncated raw bytes"),
    ({"fmt": "png"}, "unknown fmt 'png'"),
    ({"w": 0}, "w=0, h=4 is not an image size"),
])
def test_decode_all_names_the_first_bad_row(damage, why):
    from geojson_spark.sources.images import decode_all

    good = {"tile_id": 1, "bytes": _RAW_4x4, "w": 4, "h": 4, "fmt": "raw"}
    rows = [good, {**good, "tile_id": 2, **damage}, {**good, "tile_id": 3, "fmt": "jpeg"}]
    batch = pa.RecordBatch.from_pylist(rows, schema=pa.schema(
        [("tile_id", pa.int64()), ("bytes", pa.binary()), ("w", pa.int32()),
         ("h", pa.int32()), ("fmt", pa.string())]))
    with pytest.raises(ValueError) as err:
        decode_all(batch, "tile_id", "tile")
    assert str(err.value) == f"tile 2: {why}"


@pytest.mark.parametrize("op", ["luma_histogram", "tile_pixels"])
@pytest.mark.parametrize("damage, why", [
    ({"bytes": _RAW_4x4[:-3]}, "decoded 45 bytes, expected 48"),
    ({"fmt": "png"}, "unknown fmt 'png'"),
])
def test_undecodable_row_is_named(spark, op, damage, why):
    from geojson_spark.operators.rasterize import tile_pixels
    from geojson_spark.sources.images import luma_histogram

    good = {"tile_id": 1, "image_id": "imgA", "bytes": _RAW_4x4, "w": 4, "h": 4, "fmt": "raw"}
    df = spark.createDataFrame(
        pd.DataFrame([good, {**good, "tile_id": 2, "image_id": "imgB", **damage}]), _SCHEMA)
    run, name = ((lambda: luma_histogram(df).collect(), "image imgB") if op == "luma_histogram"
                 else (lambda: tile_pixels(df).collect(), "tile 2"))
    with pytest.raises(Exception, match=f"ValueError: {name}: {why}"):
        run()


def test_ranges_equal_concatenated_aranges():
    from geojson_spark.sources.images import _ranges

    rng = np.random.default_rng(3)
    cases = [(np.zeros(0, np.int64), np.zeros(0, np.int64)),  # no segments
             (np.array([7, 2]), np.array([0, 0])),  # only empty ones
             (np.array([5, 0, 9, 3]), np.array([0, 4, 0, 2]))]  # empty first/inside
    for _ in range(20):
        n = int(rng.integers(1, 60))
        cases.append((rng.integers(0, 10**6, n), rng.integers(0, 5, n) * rng.integers(0, 50, n)))
    for starts, lens in cases:
        want = np.concatenate([np.arange(s, s + k) for s, k in zip(starts, lens)] + [[]])
        got = _ranges(starts, lens)
        assert got.dtype == np.int64 and np.array_equal(got, want.astype(np.int64))


def test_decode_batch_equals_per_image_decode():
    from geojson_spark.sources.images import decode_batch

    rows = _image_rows()
    pixels, lens, decoded = decode_batch(pa.RecordBatch.from_pandas(rows, preserve_index=False))
    assert decoded.all()
    want = [img.reshape(-1) for _, img in _decoded(rows)]
    assert lens.tolist() == [p.size for p in want]
    assert pixels.tobytes() == np.concatenate(want).tobytes()
