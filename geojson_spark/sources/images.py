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
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
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
    """Deterministic 64-bit mix (public splitmix64 constants)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x = (x * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x ^= x >> np.uint64(27)
    x = (x * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
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


def encode_with_phash(px: np.ndarray, fmt: str, w: int, h: int) -> tuple[bytes, int]:
    """Encode pixels AND hash what the stored bytes will decode to — for
    lossy codecs (q8) the phash must describe the post-quantization
    pixels a decoder sees, or recompute-from-bytes checks and hamming
    dedup silently disagree. One definition so every image producer
    (resize, tiling, rasterize) keeps the invariant in lockstep; a new
    lossy codec added to ``encode_image`` must be mirrored HERE only."""
    hp = q8_quantize(px) if fmt == "q8" else px
    return encode_image(px, fmt), average_phash(hp, w, h)


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


def average_phash_batch(gray: np.ndarray) -> np.ndarray:
    """Vectorized :func:`average_phash` over a (T, h, w) GRAYSCALE stack —
    bit-identical to ``average_phash(repeat(gray[t], 3), w, h)`` for every
    t (the per-image path means the 3 identical channels, which is the
    gray value). One cumsum over the stack instead of T integral images;
    rasterize's render loop was spending ~0.1 ms/tile here."""
    T, h, w = gray.shape
    img = gray.astype(np.float64)
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    S = np.zeros((T, h + 1, w + 1), dtype=np.float64)
    S[:, 1:, 1:] = img.cumsum(axis=1).cumsum(axis=2)
    y0, y1 = ys[:-1], np.maximum(ys[:-1] + 1, ys[1:])
    x0, x1 = xs[:-1], np.maximum(xs[:-1] + 1, xs[1:])
    yi0, yi1 = y0[:, None], y1[:, None]
    xi0, xi1 = x0[None, :], x1[None, :]
    sums = (
        S[:, yi1, xi1] - S[:, yi0, xi1] - S[:, yi1, xi0] + S[:, yi0, xi0]
    )
    counts = ((y1 - y0)[:, None] * (x1 - x0)[None, :])[None, :, :]
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


def _gen_batch(ids: np.ndarray, skew: bool) -> pd.DataFrame:
    hashes = _splitmix64(ids.astype(np.uint64))
    ws = (8 + (hashes % np.uint64(25))).astype(np.int32)
    hs = (8 + ((hashes >> np.uint64(8)) % np.uint64(25))).astype(np.int32)
    fmts = np.array(["raw", "rle", "q8"])[ids % 3]
    lon, lat = lonlat_for(hashes, skew)
    rows = []
    for k in range(ids.size):
        i = int(ids[k])
        w, h = int(ws[k]), int(hs[k])
        px = _pixels_for(i, w, h)
        fmt = str(fmts[k])
        buf = encode_image(px, fmt)
        decoded = decode_image(buf, fmt, w, h)
        rows.append(
            {
                "image_id": f"img{i:012d}",
                "bytes": buf,
                "w": w,
                "h": h,
                "fmt": fmt,
                "caption": caption_for(i, int(hashes[k])),
                "phash": average_phash(decoded, w, h),
                "lon": float(lon[k]),
                "lat": float(lat[k]),
            }
        )
    return pd.DataFrame(rows, columns=IMAGE_SCHEMA.names)


def generate_images(
    spark: SparkSession, n: int, skew: bool = True, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic image table: same rows at any parallelism."""
    rng_df = spark.range(0, n, numPartitions=partitions or spark.sparkContext.defaultParallelism)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["id"].to_numpy(np.int64)
            for lo in range(0, ids.size, 4096):
                yield _gen_batch(ids[lo : lo + 4096], skew)

    return rng_df.mapInPandas(gen, schema=IMAGE_SCHEMA)


def verify_invariants(images_df):
    """Per-row invariant check (north rule): decode bytes → PSNR vs
    regenerated pixels (exact for raw/rle, ≥40 dB for q8), caption
    byte-equality, phash recompute. Returns DataFrame(image_id, psnr_ok,
    caption_ok, phash_ok) via mapInPandas — run it after any shuffle and
    assert zero failures. Size-corrupting damage (truncated bytes, wrong
    w/h) is COUNTED as a failed row, not raised — an invariant checker
    that crashes on the damage it exists to detect reports nothing."""

    def check(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # a corrupted image_id (the regen oracle's only input) must
            # COUNT as a failed row like every other kind of damage — the
            # bare batch call would crash the task on one mangled id and
            # report nothing. Fast path: one batch regen; only a failing
            # batch falls back to per-row isolation.
            try:
                caps, pixels = regen_caption_and_pixels(pdf["image_id"])
            except Exception:
                caps, pixels = [], []
                for s in pdf["image_id"]:
                    try:
                        c, px = regen_caption_and_pixels(pd.Series([s]))
                        caps.append(c[0])
                        pixels.append(px[0])
                    except Exception:
                        caps.append(None)
                        pixels.append(None)
            out = {"image_id": [], "psnr_ok": [], "caption_ok": [], "phash_ok": []}
            for k in range(len(pdf)):
                row = pdf.iloc[k]
                orig = pixels[k]
                try:
                    if orig is None:
                        raise ValueError("unregenerable image_id")
                    decoded = decode_image(row["bytes"], row["fmt"], row["w"], row["h"])
                    p = psnr_db(orig, decoded)
                    psnr_ok = (
                        bool(p == float("inf"))
                        if row["fmt"] in ("raw", "rle")
                        else bool(p >= 40.0)
                    )
                    phash_ok = int(row["phash"]) == average_phash(
                        decoded, row["w"], row["h"]
                    )
                except Exception:
                    psnr_ok = False
                    phash_ok = False
                out["image_id"].append(row["image_id"])
                out["psnr_ok"].append(psnr_ok)
                out["caption_ok"].append(row["caption"] == caps[k])
                out["phash_ok"].append(phash_ok)
            yield pd.DataFrame(out)

    # pandas-UDF stages run one task per input partition; a small parquet
    # arrives as 1 partition and would serialize the (expensive) decode
    # loop on one core (CLAUDE.md small-parquet rule). Plan-aware so an
    # expensive upstream pipeline is never executed twice just to count
    # partitions under AQE.
    from geojson_spark.functions.spark_funcs import ensure_min_partitions

    images_df = ensure_min_partitions(images_df)
    return images_df.mapInPandas(
        check, schema="image_id string, psnr_ok boolean, caption_ok boolean, phash_ok boolean"
    )


def regen_caption_and_pixels(image_ids: pd.Series):
    """Recompute (caption, pixels) from image_id — the invariant oracle
    (caption byte-equality + PSNR after every shuffle, BASELINE.json)."""
    out_cap = []
    out_px = []
    for s in image_ids:
        i = int(s[3:])
        h = int(_splitmix64(np.array([i], dtype=np.uint64))[0])
        w = 8 + (h % 25)
        hh = 8 + ((h >> 8) % 25)
        out_cap.append(caption_for(i, h))
        out_px.append(_pixels_for(i, w, hh))
    return out_cap, out_px
