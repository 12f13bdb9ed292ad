"""Synthetic image+caption table — the north-rule input, generated in Spark.

Schema per BASELINE.json ``input_hint``: (image_id string, bytes binary,
w int32, h int32, fmt string, caption string, phash int64) plus derived
lon/lat (FIXTURES.md §1). Deterministic in ``image_id`` (splitmix64 mixing),
generated distributed via mapInPandas over ``spark.range`` — no driver-side
materialization, so the same code generates 10^4 or 10^12 rows.

Codecs (all pure NumPy, no PIL/cv2 in this container — SURVEY.md §7.1):
  raw  — w·h·3 uint8 pixels, little-endian scanline order
  rle  — byte-pair run-length encoding (count uint8 ≤ 255, value uint8)
  q8   — lossy: step-5 mid-bin quantization (|error| ≤ 2 per pixel) →
         worst-case PSNR ≈ 42.1 dB ≥ the 40 dB invariant by construction
         for every image, not just in expectation.

phash — 64-bit average-hash: mean of each 8×8 block grid vs global mean.

Batch kernel — generation (``_gen_batch``) and the invariant checker
(``verify_invariants``) share one whole-batch code path, no per-row pixel
work:
  pixels — ``_regen_pixels``: one ``_splitmix64`` over the concatenated
           counter ranges of every image in the batch;
  decode — :func:`decode_batch`: raw/q8 pixels are the joined stored
           bytes (the Arrow data buffer); every rle buffer's (count,
           value) pairs expand in one ``np.repeat``. It is the engine's
           only image decoder: :func:`luma_histogram`, the rasterizer's
           ``tile_pixels`` and its render's stored-bytes check use it too;
  PSNR   — each image's squared error is an exact integer segment sum
           (``np.add.reduceat``), so the flags equal ``psnr_db``'s;
  phash  — ``_phash_concat``: images of mixed sizes zero-padded into one
           stack, one :func:`average_phash_batch` call with each image's
           own block bounds, bit-identical to :func:`average_phash`.
Memory: the checker walks each Arrow batch in sub-batches of about
``_SUB_BATCH_BYTES`` (1 MiB) of stored bytes plus regenerated pixels, the
other decoders in sub-batches of about that many decoded pixel bytes, and
the generator in sub-batches of at most that many regenerated pixel
bytes, so a Python worker's scratch memory (a few uint64/float64 copies of
a sub-batch) does not grow with the Arrow batch size.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession

from geojson_spark.schema import IMAGE_SCHEMA

# 3 "city" hotspot centers for the skew fixture (lon, lat)
HOTSPOTS = [(-74.006, 40.7128), (2.3522, 48.8566), (139.6917, 35.6895)]
HOTSPOT_FRACTION = 0.3
_WORDS = (
    "ochre delta crane lattice ember quartz salt fjord plume cedar "
    "onyx tundra marble comet wharf prism basalt sable umber reed"
).split()


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mix (public splitmix64 constants) of a uint64
    array; the input is not modified."""
    x = x + np.uint64(0x9E3779B97F4A7C15)  # a fresh array: mix it in place
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def _pixels_for(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic pixel buffer for image index i — counter-mode hash RNG."""
    n = w * h * 3
    idx = np.arange(n, dtype=np.uint64) + (np.uint64(i) << np.uint64(24))
    return (_splitmix64(idx) & np.uint64(0xFF)).astype(np.uint8)


def rle_encode(px: np.ndarray) -> bytes:
    """Byte-pair RLE: (count≤255, value) over the flat pixel stream."""
    if px.size == 0:
        return b""
    change = np.flatnonzero(np.diff(px)) + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [px.size]))
    counts = ends - starts
    values = px[starts]
    # split runs longer than 255
    reps = (counts + 254) // 255
    if (reps == 1).all():  # fast path: no long runs (typical for noise)
        out_vals = values
        out_counts = counts
    else:
        out_vals = np.repeat(values, reps)
        out_counts = np.empty(out_vals.size, dtype=np.int64)
        pos = 0
        for c, r in zip(counts, reps):
            if r == 1:
                out_counts[pos] = c
                pos += 1
            else:
                out_counts[pos : pos + r - 1] = 255
                out_counts[pos + r - 1] = c - 255 * (r - 1)
                pos += r
    pairs = np.empty(out_vals.size * 2, dtype=np.uint8)
    pairs[0::2] = out_counts.astype(np.uint8)
    pairs[1::2] = out_vals
    return pairs.tobytes()


def rle_decode(buf: bytes) -> np.ndarray:
    pairs = np.frombuffer(buf, dtype=np.uint8)
    counts = pairs[0::2].astype(np.int64)
    values = pairs[1::2]
    return np.repeat(values, counts)


def q8_quantize(px: np.ndarray) -> np.ndarray:
    """Step-5 mid-bin quantization: |error| ≤ 2 per pixel, so even the
    worst-case image has PSNR ≥ 20·log10(255) − 10·log10(4) ≈ 42.1 dB — a
    hard guarantee, not an expectation (step 8 averaged 40.7 dB but tiny
    8×8 images sampled below 40)."""
    v = (px.astype(np.int16) // 5) * 5 + 2  # wide dtype: 255 → 257 pre-clamp
    return np.minimum(v, 255).astype(np.uint8)


def encode_image(px: np.ndarray, fmt: str) -> bytes:
    if fmt == "raw":
        return px.tobytes()
    if fmt == "rle":
        return rle_encode(px)
    if fmt == "q8":
        return q8_quantize(px).tobytes()
    raise ValueError(f"unknown fmt {fmt!r}")


def decode_image(buf: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    """bytes → flat uint8 pixel array of length w·h·3."""
    if fmt == "raw" or fmt == "q8":
        px = np.frombuffer(buf, dtype=np.uint8)
    elif fmt == "rle":
        px = rle_decode(buf)
    else:
        raise ValueError(f"unknown fmt {fmt!r}")
    if px.size != w * h * 3:
        raise ValueError(f"decoded {px.size} bytes, expected {w * h * 3}")
    return px


def psnr_db(orig: np.ndarray, decoded: np.ndarray) -> float:
    """Peak signal-to-noise ratio; inf for exact match."""
    diff = orig.astype(np.float64) - decoded.astype(np.float64)
    mse = float((diff * diff).mean()) if diff.size else 0.0
    if mse == 0.0:
        return float("inf")
    return 20.0 * np.log10(255.0) - 10.0 * np.log10(mse)


def average_phash(px: np.ndarray, w: int, h: int) -> int:
    """64-bit average hash: 8×8 grid of block mean luminance, each bit =
    block mean > the MEAN OF BLOCK MEANS (not the global pixel mean —
    they differ when w or h is not a multiple of 8, because blocks carry
    unequal pixel counts but equal weight). Vectorized via an integral
    image: no per-block Python loop (this runs once per row on the
    generate AND verify paths, so it dominated CPU before)."""
    img = px.reshape(h, w, 3).astype(np.float64).mean(axis=2)
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    # w,h ≥ 8 for all engine-generated images → boundaries strictly increase
    S = np.zeros((h + 1, w + 1), dtype=np.float64)
    S[1:, 1:] = img.cumsum(axis=0).cumsum(axis=1)
    y0, y1 = ys[:-1], np.maximum(ys[:-1] + 1, ys[1:])
    x0, x1 = xs[:-1], np.maximum(xs[:-1] + 1, xs[1:])
    sums = (
        S[np.ix_(y1, x1)] - S[np.ix_(y0, x1)] - S[np.ix_(y1, x0)] + S[np.ix_(y0, x0)]
    )
    counts = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    blocks = sums / counts
    bits = (blocks > blocks.mean()).ravel()
    val = int.from_bytes(np.packbits(bits).tobytes(), "big")
    return val - (1 << 64) if val >= (1 << 63) else val


def average_phash_batch(
    gray: np.ndarray, h: np.ndarray | None = None, w: np.ndarray | None = None
) -> np.ndarray:
    """Vectorized :func:`average_phash` over a (T, H, W) GRAYSCALE stack —
    bit-identical to ``average_phash(repeat(gray[t, :h[t], :w[t]], 3),
    w[t], h[t])`` for every t (the per-image path means the 3 identical
    channels, which is the gray value). ``h``/``w`` give each image's own
    size when the stack mixes sizes (default: every image is H×W). Each
    image sits top-left and is padded right and below, so every integral
    image value inside it sums only its own pixels. One pass over the
    stack instead of T integral images."""
    T, H, W = gray.shape
    h = np.full(T, H) if h is None else np.asarray(h, dtype=np.int64)
    w = np.full(T, W) if w is None else np.asarray(w, dtype=np.int64)
    # integral images in (H+1, W+1, T) layout, one image per lane: each
    # step adds one row (then one column) of all T images, in the order of
    # the scalar path's sequential cumsums — and far faster than cumsum
    g = np.ascontiguousarray(np.moveaxis(gray, 0, -1), dtype=np.float64)
    S = np.zeros((H + 1, W + 1, T), dtype=np.float64)
    for y in range(H):
        np.add(S[y, 1:], g[y], out=S[y + 1, 1:])
    for x in range(1, W):
        S[1:, x + 1] += S[1:, x]
    k = np.arange(9)
    ys = (k * h[:, None]) // 8
    xs = (k * w[:, None]) // 8
    y0, y1 = ys[:, :-1], np.maximum(ys[:, :-1] + 1, ys[:, 1:])
    x0, x1 = xs[:, :-1], np.maximum(xs[:, :-1] + 1, xs[:, 1:])
    t = np.arange(T)[:, None, None]
    r0, r1 = y0[:, :, None], y1[:, :, None]
    c0, c1 = x0[:, None, :], x1[:, None, :]
    sums = S[r1, c1, t] - S[r0, c1, t] - S[r1, c0, t] + S[r0, c0, t]
    counts = (y1 - y0)[:, :, None] * (x1 - x0)[:, None, :]
    # each image's 64 block means as one contiguous row: its mean is then
    # summed in the scalar path's order, so a block that ties the mean
    # (repeated blocks make ties common) compares the same way
    blocks = np.ascontiguousarray(sums / counts).reshape(T, 64)
    bits = blocks > blocks.mean(axis=1, keepdims=True)
    packed = np.packbits(bits, axis=1)  # (T, 8) big-endian bytes
    vals = np.zeros(T, dtype=np.uint64)
    for i in range(8):
        vals |= packed[:, i].astype(np.uint64) << np.uint64(8 * (7 - i))
    # two's-complement reinterpretation == the scalar path's `val - 2**64`
    return vals.view(np.int64)


def caption_for(i: int, h: int) -> str:
    words = [_WORDS[(h >> (4 * k)) % len(_WORDS)] for k in range(4)]
    return f"caption {i} " + " ".join(words)


def lonlat_for(hashes: np.ndarray, skew: bool):
    """Derived lon/lat per FIXTURES.md §1; skew puts 30% in 3 hotspots."""
    lon = (hashes % np.uint64(360000)).astype(np.float64) / 1000.0 - 180.0
    h2 = _splitmix64(hashes)
    lat = (h2 % np.uint64(170000)).astype(np.float64) / 1000.0 - 85.0
    if skew:
        h3 = _splitmix64(h2)
        in_hot = (h3 % np.uint64(1000)).astype(np.float64) < HOTSPOT_FRACTION * 1000
        which = (_splitmix64(h3) % np.uint64(3)).astype(np.int64)
        jitter_lon = ((h3 >> np.uint64(10)) % np.uint64(2000)).astype(np.float64) / 100000.0 - 0.01
        jitter_lat = ((h3 >> np.uint64(24)) % np.uint64(2000)).astype(np.float64) / 100000.0 - 0.01
        hot_lon = np.choose(which, [c[0] for c in HOTSPOTS]) + jitter_lon
        hot_lat = np.choose(which, [c[1] for c in HOTSPOTS]) + jitter_lat
        lon = np.where(in_hot, hot_lon, lon)
        lat = np.where(in_hot, hot_lat, lat)
    return lon, lat


_MAX_IMAGE_BYTES = 32 * 32 * 3  # the largest generated image (``_dims``)
_SUB_BATCH_BYTES = 1 << 20  # the batch kernel's memory bound (module docstring)
_FLAGS = ("psnr_ok", "caption_ok", "phash_ok")


def _dims(ids: np.ndarray):
    """(hash, w, h) of uint64 image indices — the generator's size rule."""
    hashes = _splitmix64(ids)
    w = (hashes % np.uint64(25)).astype(np.int64) + 8
    h = ((hashes >> np.uint64(8)) % np.uint64(25)).astype(np.int64) + 8
    return hashes, w, h


def _captions(ids: np.ndarray, hashes: np.ndarray) -> list[str]:
    return [caption_for(i, x) for i, x in zip(ids.tolist(), hashes.tolist())]


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated index ranges ``[starts[k], starts[k] + lens[k])``."""
    ends = np.cumsum(lens)
    total = int(ends[-1]) if lens.size else 0
    return np.arange(total, dtype=np.int64) + np.repeat(starts - (ends - lens), lens)


def _segment_sums(x: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Exact int64 sum of each consecutive run of ``lens[k]`` elements of
    integer ``x`` (empty runs sum to 0)."""
    out = np.zeros(lens.size, dtype=np.int64)
    nz = lens > 0
    if nz.any():  # reduceat would read an empty run as one element
        out[nz] = np.add.reduceat(x, (np.cumsum(lens) - lens)[nz], dtype=np.int64)
    return out


def _regen_pixels(ids: np.ndarray, w: np.ndarray, h: np.ndarray) -> np.ndarray:
    """``_pixels_for`` of every image, back to back: one ``_splitmix64``
    over the concatenated counter ranges."""
    n = w * h * 3
    ctr = np.repeat((ids << np.uint64(24)) - (np.cumsum(n) - n).astype(np.uint64), n)
    ctr += np.arange(ctr.size, dtype=np.uint64)
    return _splitmix64(ctr).astype(np.uint8)  # the low byte, as in _pixels_for


def _phash_concat(px: np.ndarray, w: np.ndarray, h: np.ndarray) -> np.ndarray:
    """``average_phash`` of RGB images stored back to back in ``px``, in
    one :func:`average_phash_batch` call over a zero-padded stack. Halves
    the batch while the stack would exceed _SUB_BATCH_BYTES cells, so
    images of very different shapes cannot blow it up."""
    T = w.size
    if T == 0:
        return np.zeros(0, dtype=np.int64)
    H, W = int(h.max()), int(w.max())
    if T > 1 and T * H * W > _SUB_BATCH_BYTES:
        m = T // 2
        cut = 3 * int((w[:m] * h[:m]).sum())
        return np.concatenate(
            (_phash_concat(px[:cut], w[:m], h[:m]), _phash_concat(px[cut:], w[m:], h[m:]))
        )
    # the mean of 3 integer channels: the sum is exact in any order, so
    # this equals average_phash's float64 channel mean bit for bit
    rgb = px.reshape(-1, 3)
    gray = (rgb[:, 0] + rgb[:, 1].astype(np.float64) + rgb[:, 2]) / 3.0
    # row y of image t lands at stack[y, :w[t], t] of an (H, W, T) stack,
    # the layout average_phash_batch computes in
    img = np.repeat(np.arange(T), h)  # image of each pixel row
    y = _ranges(np.zeros(T, dtype=np.int64), h)
    wr = w[img]
    x = _ranges(np.zeros(img.size, dtype=np.int64), wr)
    stack = np.zeros(H * W * T, dtype=np.float64)
    stack[np.repeat(y * (W * T) + img, wr) + x * T] = gray
    return average_phash_batch(stack.reshape(H, W, T).transpose(2, 0, 1), h, w)


def _gen_batch(ids: np.ndarray, skew: bool) -> pd.DataFrame:
    uids = ids.astype(np.uint64)
    hashes, w, h = _dims(uids)
    fmts = np.array(["raw", "rle", "q8"])[ids % 3]
    lon, lat = lonlat_for(hashes, skew)
    n = w * h * 3
    px = _regen_pixels(uids, w, h)
    # what the stored bytes decode to: q8 is lossy, and the phash must
    # describe the pixels a decoder sees, or recompute-from-bytes checks
    # and hamming dedup disagree
    q8 = np.repeat(fmts == "q8", n)
    px[q8] = q8_quantize(px[q8])
    ends = np.cumsum(n).tolist()
    blob = px.tobytes()
    bufs = [
        rle_encode(px[a - k : a]) if f == "rle" else blob[a - k : a]
        for a, k, f in zip(ends, n.tolist(), fmts.tolist())
    ]
    return pd.DataFrame(
        {
            "image_id": [f"img{i:012d}" for i in ids.tolist()],
            "bytes": bufs,
            "w": w.astype(np.int32),
            "h": h.astype(np.int32),
            "fmt": fmts.astype(object),
            "caption": _captions(uids, hashes),
            "phash": _phash_concat(px, w, h),
            "lon": lon,
            "lat": lat,
        },
        columns=IMAGE_SCHEMA.names,
    )


def generate_images(
    spark: SparkSession, n: int, skew: bool = True, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic image table: same rows at any parallelism."""
    rng_df = spark.range(0, n, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    step = _SUB_BATCH_BYTES // _MAX_IMAGE_BYTES

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["id"].to_numpy(np.int64)
            for lo in range(0, ids.size, step):
                yield _gen_batch(ids[lo : lo + step], skew)

    return rng_df.mapInPandas(gen, schema=IMAGE_SCHEMA)


def _id_index(image_id) -> int | None:
    """The integer after an image_id's 3-character prefix, or None when
    there is none in [0, 2**64) — the row cannot be regenerated."""
    try:
        i = int(image_id[3:])
    except (TypeError, ValueError):
        return None
    return i if 0 <= i < 1 << 64 else None


def _parse_ids(image_ids) -> tuple[np.ndarray, np.ndarray]:
    parsed = [_id_index(s) for s in image_ids]
    ok = np.array([i is not None for i in parsed], dtype=bool)
    return np.array([i or 0 for i in parsed], dtype=np.uint64), ok


def _true(mask: pa.Array) -> np.ndarray:
    """A boolean Arrow array as NumPy, null as False."""
    return mask.fill_null(False).to_numpy(zero_copy_only=False)


def _ints(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(int64 values, ok) of a numeric Arrow column. Null, non-integral
    and out-of-int64 values are not ok; integers are never routed through
    float, so every 64-bit value compares exactly."""
    ok = _true(col.is_valid())
    x = col.fill_null(0).to_numpy(zero_copy_only=False)
    if x.dtype.kind == "f":
        ok &= np.isfinite(x) & (x == np.trunc(x)) & (np.abs(x) < 2.0**63)
        x = np.where(ok, x, 0.0)
    return x.astype(np.int64), ok


def _binary(col: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(joined bytes, offsets from 0, valid) of a binary Arrow column —
    the column's own data buffer, not a copy."""
    arr = col.cast(pa.large_binary())
    _, offsets, data = arr.buffers()
    off = np.frombuffer(offsets, dtype=np.int64, count=len(arr) + 1, offset=8 * arr.offset)
    data = np.frombuffer(data, dtype=np.uint8) if data is not None else np.zeros(0, np.uint8)
    return data[off[0] : off[-1]], off - off[0], _true(arr.is_valid())


def decode_batch(batch: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(pixels, lens, decoded) of the ``bytes, w, h, fmt`` columns of a
    batch — :func:`decode_image` of every row at once. ``lens`` is each
    row's decoded length (-1 when its bytes are null, its fmt is unknown or
    its rle buffer is not whole pairs), ``decoded`` marks the rows that
    decode to w·h·3 pixels, and ``pixels`` holds those rows' pixels back to
    back in row order. raw/q8 pixels are the stored bytes themselves (the
    Arrow data buffer); every rle buffer's (count, value) pairs expand in
    one ``np.repeat``."""
    col = batch.column
    data, off, b_ok = _binary(col("bytes"))
    blen = np.diff(off)
    plain = b_ok & (_true(pc.equal(col("fmt"), "raw")) | _true(pc.equal(col("fmt"), "q8")))
    rle = b_ok & _true(pc.equal(col("fmt"), "rle")) & (blen % 2 == 0)
    pairs = data[_ranges(off[:-1][rle], blen[rle])]
    counts = pairs[0::2]
    rle_px = np.repeat(pairs[1::2], counts)
    lens = np.where(plain, blen, -1)
    lens[rle] = _segment_sums(counts, blen[rle] // 2)
    src = np.concatenate((data, rle_px)) if rle.any() else data
    src_at = off[:-1].copy()
    src_at[rle] = data.size + np.cumsum(lens[rle]) - lens[rle]
    w, w_ok = _ints(col("w"))
    h, h_ok = _ints(col("h"))
    # float product: exact at every length a buffer can have, no overflow
    decoded = w_ok & h_ok & (lens == w * h.astype(np.float64) * 3)
    if decoded.all() and not rle.any():  # the stored bytes are the pixels
        return data, lens, decoded
    return src[_ranges(src_at[decoded], lens[decoded])], lens, decoded


def decode_all(batch: pa.RecordBatch, key: str, label: str):
    """(pixels, lens, w) of :func:`decode_batch` for a batch whose rows
    must all be images of w, h ≥ 1; otherwise a ValueError names the first
    row that is not, as ``label`` and its ``key`` column value."""
    col = batch.column
    pixels, lens, decoded = decode_batch(batch)
    w, w_ok = _ints(col("w"))
    h, h_ok = _ints(col("h"))
    sized = w_ok & h_ok & (w >= 1) & (h >= 1)
    bad = ~(decoded & sized)
    if bad.any():
        k = int(np.argmax(bad))
        fmt = col("fmt")[k].as_py()
        why = (f"unknown fmt {fmt!r}" if fmt not in ("raw", "rle", "q8")
               else f"w={col('w')[k].as_py()}, h={col('h')[k].as_py()} is not an image size"
               if not sized[k]
               else f"null or truncated {fmt} bytes" if lens[k] < 0
               else f"decoded {lens[k]} bytes, expected {w[k] * h[k] * 3}")
        raise ValueError(f"{label} {col(key)[k].as_py()}: {why}")
    return pixels, lens, w


def pixel_sub_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Each image batch in slices of about _SUB_BATCH_BYTES decoded pixel
    bytes (w·h·3), the memory bound of a decoding kernel."""
    for batch in batches:
        w, _ = _ints(batch.column("w"))
        h, _ = _ints(batch.column("h"))
        for lo, hi in _sub_batches(w * h * 3):
            yield batch.slice(lo, hi - lo)


def _check_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """(image_id, psnr_ok, caption_ok, phash_ok) of a batch of image rows,
    each step once over the whole batch. Damage clears only the flags it
    touches: an unparseable id fails psnr and caption; null, wrong-length
    or unknown-format bytes and impossible w/h fail psnr and phash; a null
    caption or phash fails only its own flag."""
    col = batch.column
    n = batch.num_rows
    ids, id_ok = _parse_ids(col("image_id").to_pylist())
    hashes, w0, h0 = _dims(ids)
    caps = [c if ok else None for c, ok in zip(_captions(ids, hashes), id_ok)]
    caption_ok = _true(pc.equal(col("caption"), pa.array(caps, pa.string())))

    dec, lens, decoded = decode_batch(batch)
    starts = np.cumsum(lens[decoded]) - lens[decoded]

    def pixels(rows: np.ndarray) -> np.ndarray:  # rows ⊆ decoded
        keep = rows[decoded]
        return dec if keep.all() else dec[_ranges(starts[keep], lens[rows])]

    # PSNR against the pixels regenerated from image_id, from the exact
    # integer squared error of each image
    psnr_ok = np.zeros(n, dtype=bool)
    rows = decoded & id_ok & (lens == w0 * h0 * 3)
    d = _regen_pixels(ids[rows], w0[rows], h0[rows]).astype(np.int32) - pixels(rows)
    sse = _segment_sums(d * d, lens[rows])
    lossy = _true(pc.equal(col("fmt"), "q8"))[rows]
    with np.errstate(divide="ignore"):  # mse 0 → inf dB, as psnr_db
        db = 20.0 * np.log10(255.0) - 10.0 * np.log10(sse[lossy] / lens[rows][lossy])
    ok = sse == 0  # raw/rle must be exact
    ok[lossy] = db >= 40.0
    psnr_ok[rows] = ok

    w, _ = _ints(col("w"))
    h, _ = _ints(col("h"))
    phash, ph_ok = _ints(col("phash"))
    phash_ok = np.zeros(n, dtype=bool)
    rows = decoded & ph_ok & (w >= 1) & (h >= 1)
    phash_ok[rows] = _phash_concat(pixels(rows), w[rows], h[rows]) == phash[rows]
    return pa.RecordBatch.from_arrays(
        [col("image_id"), pa.array(psnr_ok), pa.array(caption_ok), pa.array(phash_ok)],
        names=["image_id", *_FLAGS],
    )


def _sub_batches(cost: np.ndarray) -> list[tuple[int, int]]:
    """[lo, hi) row ranges holding about _SUB_BATCH_BYTES of ``cost`` each
    (a row is never split, so a range exceeds it by at most one row)."""
    if cost.size == 0:
        return []
    window = (np.cumsum(cost) - cost) // _SUB_BATCH_BYTES
    bounds = [0, *(np.flatnonzero(np.diff(window)) + 1).tolist(), cost.size]
    return list(zip(bounds[:-1], bounds[1:]))


def _check_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        # what a row costs the kernel: its stored bytes and, at most, one
        # regenerated image
        stored = pc.binary_length(batch.column("bytes")).fill_null(0).to_numpy()
        for lo, hi in _sub_batches(stored.astype(np.int64) + _MAX_IMAGE_BYTES):
            sub = batch.slice(lo, hi - lo)
            try:
                yield _check_batch(sub)
            except Exception:
                # damage the kernel does not mask must still be counted,
                # not crash the task: rerun it one row at a time and fail
                # only the row that still raises
                for k in range(sub.num_rows):
                    row = sub.slice(k, 1)
                    try:
                        yield _check_batch(row)
                    except Exception:
                        yield pa.RecordBatch.from_arrays(
                            [row.column("image_id")] + [pa.array([False])] * 3,
                            names=["image_id", *_FLAGS],
                        )


def verify_invariants(images_df):
    """Per-row invariant check (north rule): decode bytes → PSNR vs
    regenerated pixels (exact for raw/rle, ≥40 dB for q8), caption
    byte-equality, phash recompute. Returns DataFrame(image_id, psnr_ok,
    caption_ok, phash_ok) — run it after any shuffle and assert zero
    failures. Damage (truncated bytes, wrong w/h, a mangled image_id,
    nulls) is COUNTED as a failed flag, not raised — an invariant checker
    that crashes on the damage it exists to detect reports nothing.

    Runs the batch kernel over Arrow batches (``mapInArrow``): a nullable
    bigint reaches pandas as float64 when its batch holds a null, which
    would round every other row's 64-bit phash in that batch."""
    # Python stages run one task per input partition; a small parquet
    # arrives as 1 partition and would serialize the (expensive) check on
    # one core (CLAUDE.md small-parquet rule). Plan-aware so an
    # expensive upstream pipeline is never executed twice just to count
    # partitions under AQE.
    from geojson_spark.functions.spark_funcs import ensure_min_partitions

    images_df = ensure_min_partitions(images_df)
    return images_df.mapInArrow(
        _check_batches,
        schema="image_id string, psnr_ok boolean, caption_ok boolean, phash_ok boolean",
    )


def _luma_batch(batch: pa.RecordBatch, bins: int) -> pa.RecordBatch:
    """(image_id, hist, brightness_milli) of a batch of images: luma over
    the concatenated pixels, every histogram in one ``bincount``."""
    pixels, lens, _ = decode_all(batch, "image_id", "image")
    n = batch.num_rows
    rgb = pixels.reshape(-1, 3).astype(np.int64)
    luma = (299 * rgb[:, 0] + 587 * rgb[:, 1] + 114 * rgb[:, 2]) // 1000
    npx = lens // 3
    image = np.repeat(np.arange(n), npx)
    hist = np.bincount(image * bins + luma * bins // 256, minlength=n * bins)
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * bins)
    return pa.RecordBatch.from_arrays(
        [batch.column("image_id"), pa.ListArray.from_arrays(offsets, hist),
         pa.array(1000 * _segment_sums(luma, npx) // (npx * 255))],
        names=["image_id", "hist", "brightness_milli"],
    )


def luma_histogram(images: DataFrame, bins: int = 16) -> DataFrame:
    """Integer-exact luma histogram + brightness per image (the cheap
    exposure/quality filters an image-curation pipeline gates on).

    Luma uses the BT.601 weights as EXACT integer millis —
    ``(299·R + 587·G + 114·B) div 1000`` — and ``bin = luma·bins div 256``,
    so every output is a deterministic integer (reproducible anywhere,
    no float luck). brightness_milli = 1000·Σluma div (n_px·255).

    Runs :func:`decode_batch` over Arrow batches (``mapInArrow``); a row
    that does not decode to a w·h·3 image raises a ValueError naming its
    image_id."""
    from geojson_spark.functions.spark_funcs import ensure_min_partitions

    def work(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in pixel_sub_batches(batches):
            yield _luma_batch(batch, bins)

    # one Python task per partition: spread a small scan, as verify_invariants
    images = ensure_min_partitions(images.select("image_id", "bytes", "fmt", "w", "h"))
    return images.mapInArrow(
        work, schema="image_id string, hist array<long>, brightness_milli long"
    )


def regen_caption_and_pixels(image_ids):
    """Recompute (captions, pixel arrays) from image ids — the invariant
    oracle (caption byte-equality + PSNR after every shuffle,
    BASELINE.json). Raises ValueError on an id it cannot regenerate."""
    ids, ok = _parse_ids(image_ids)
    if not ok.all():
        raise ValueError(f"unregenerable image_id {list(image_ids)[int(np.argmin(ok))]!r}")
    hashes, w, h = _dims(ids)
    px = _regen_pixels(ids, w, h)
    return _captions(ids, hashes), np.split(px, np.cumsum(w * h * 3)[:-1])
