"""Vector → raster: render point tables into real image tiles.

The mirror of the raster→vector direction (``sources/images`` decodes
image bytes into pixels, :func:`tile_pixels` and :func:`zonal_stats` carry
them into cells/features): this module
rasterizes a point table into per-tile density images — the standard
heatmap/coverage-preview step of a geospatial pipeline, producing rows in
the engine's image-table shape so every downstream image operator (pHash
dedup, tiling, luma stats, invariants) composes with rendered tiles.

Scale design (100 TB of points):

1. The input is scanned ONCE and immediately reduced JVM-side:
   ``groupBy(tile, px, py).count()`` with map-side partial aggregation, so
   the only big shuffle carries ≤ res² tiny integer rows per tile — not
   points.
2. Rendering is ``applyInPandas`` over tile groups of those counts: one
   Exchange on tile_id (Catalyst reuses the first shuffle's distribution
   where possible), output one image row per tile.
3. Pixel mapping is the engine's shared float derivation — one multiply +
   floor: ``g = floor((coord+off)·cpd·res)``, tile = ``g div res``, pixel
   = ``g mod res`` — so the per-tile integer stats replay bit-exactly in
   a SQL oracle, while for lossless formats the checksum is recomputed
   FROM THE ENCODED BYTES (decode → sum) proving the codec round-trip,
   not just the counts (lossy q8 falls back to pre-encode pixels — its
   quantizer maps 0 → 2, so decoded-byte stats would be meaningless).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geojson_spark.functions.spark_funcs import GRID_K


def rasterize_density(
    points: DataFrame,
    *,
    cpd: int = 1,
    res: int = 32,
    lon_col: str = "lon",
    lat_col: str = "lat",
    out_fmt: str = "raw",
) -> DataFrame:
    """Render points into per-tile ``res``×``res`` grayscale density
    images (stored RGB in the engine's codec formats).

    Tile ids are ``tx·GRID_K + ty`` on the ``cpd`` grid — the same id
    space as :func:`geojson_spark.functions.spark_funcs.grid_cell`, so
    rendered tiles equi-join against vector cell aggregates. Pixel value
    = ``min(point_count, 255)``. Points outside the closed world domain
    (lon ∈ [-180, 180], lat ∈ [-90, 90]) are dropped; the legal boundary
    positions lon = 180 / lat = 90 clamp into the last pixel column/row.

    Output: (tile_id, bytes, w, h, fmt, phash, n_points, nonzero_px,
    max_count, checksum) where checksum = Σ (py·res+px+1)·pixel over the
    DECODED bytes — integer-exact and SQL-replayable from the raw points.
    """
    from geojson_spark.sources.images import encode_image

    if 180 * cpd >= GRID_K:
        raise ValueError(
            f"cpd={cpd} overflows the tile packing tx*{GRID_K}+ty "
            f"(needs 180*cpd < {GRID_K}, i.e. cpd <= 22) — distant tiles "
            "would silently share an id"
        )
    scale = float(cpd * res)
    # world-domain filter + closed-edge clamp: points outside the CLOSED
    # GeoJSON domain lon ∈ [-180, 180] × lat ∈ [-90, 90] (bad data, NaN)
    # are dropped BEFORE tiling, so ty is always in [0, 180·cpd) and
    # tile_id = tx·GRID_K + ty decodes exactly with floor-div/mod
    # everywhere downstream (zonal_stats reconstructs pixel centers from
    # tile_id — a signed ty would alias into a neighboring tx under pmod
    # and silently shift those pixels a degree over). The boundary
    # positions lon = 180 / lat = 90 are LEGAL GeoJSON and clamp into the
    # last pixel column/row instead of being dropped.
    in_world = (
        (F.col(lon_col) >= -180.0) & (F.col(lon_col) <= 180.0)
        & (F.col(lat_col) >= -90.0) & (F.col(lat_col) <= 90.0)
    )
    gx = F.least(
        F.floor((F.col(lon_col) + F.lit(180.0)) * F.lit(scale)).cast("bigint"),
        F.lit(int(360 * scale) - 1),
    )
    gy = F.least(
        F.floor((F.col(lat_col) + F.lit(90.0)) * F.lit(scale)).cast("bigint"),
        F.lit(int(180 * scale) - 1),
    )
    counts = (
        points.where(in_world)
        .select(
            (F.floor(gx / res).cast("bigint") * GRID_K
             + F.floor(gy / res).cast("bigint")).alias("tile_id"),
            F.pmod(gx, F.lit(res)).cast("int").alias("px"),
            F.pmod(gy, F.lit(res)).cast("int").alias("py"),
        )
        .groupBy("tile_id", "px", "py")
        .agg(F.count("*").alias("c"))
    )

    # mapInPandas over tile_id-partitioned counts, NOT
    # groupBy().applyInPandas: one Python call per ARROW BATCH instead of
    # one per tile (a world map at cpd=1 is ~15k one-row groups — per-group
    # pandas machinery dominated at ~4 ms/group, 60+ s for a 60k-point
    # table). The scatter into the (T, res, res) stack is one vectorized
    # fancy-index; encode/decode/phash/stats are all batched along T too
    # (round-5 — the former per-tile loop cost ~0.1 ms/tile, ~1.5 s for a
    # world render at cpd=4). Only rle encoding, inherently per-stream,
    # stays a per-tile call.
    idx1 = np.arange(res * res, dtype=np.int64).reshape(res, res) + 1

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from geojson_spark.sources.images import (
            average_phash_batch,
            decode_all,
            q8_quantize,
            rle_encode,
        )

        # a tile's rows can straddle arrow batches within the partition —
        # concatenate first (per-partition counts are ≤ res² rows/tile)
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        if not len(pdf):
            return
        tids, t_idx = np.unique(pdf["tile_id"].to_numpy(), return_inverse=True)
        T = len(tids)
        imgs = np.zeros((T, res, res), dtype=np.int64)
        imgs[t_idx, pdf["py"].to_numpy(), pdf["px"].to_numpy()] = (
            pdf["c"].to_numpy()
        )
        n_points = imgs.sum(axis=(1, 2))
        max_count = imgs.max(axis=(1, 2))
        gray = np.minimum(imgs, 255).astype(np.uint8)  # (T, res, res)
        # grayscale → RGB triples, whole stack at once
        rgb = np.repeat(gray.reshape(T, -1), 3, axis=1)  # (T, res²·3)
        if out_fmt == "raw":
            bufs = [row.tobytes() for row in rgb]  # memcpy only
        elif out_fmt == "q8":
            bufs = [row.tobytes() for row in q8_quantize(rgb)]
        elif out_fmt == "rle":
            bufs = [rle_encode(row) for row in rgb]
        else:  # keep the canonical error for unknown formats
            bufs = [encode_image(row, out_fmt) for row in rgb]
        # stats/phash come from what the STORED bytes decode to — the
        # decode really reads the encoded buffers, so a codec bug breaks
        # the checksum — through the engine's one batch decoder
        size = pa.array(np.full(T, res, dtype=np.int32))
        stored = pa.RecordBatch.from_arrays(
            [pa.array(tids), pa.array(bufs, pa.binary()), size, size, pa.array([out_fmt] * T)],
            names=["tile_id", "bytes", "w", "h", "fmt"],
        )
        dec = decode_all(stored, "tile_id", "tile")[0].reshape(T, res, res, 3)[:, :, :, 0]
        # q8 is lossy (0 quantizes to 2): decoded-byte stats would read
        # nonzero_px = res² everywhere, so for lossy fmts the stats come
        # from the pre-encode pixels; the lossless fmts keep the stronger
        # decoded-byte contract
        stat = dec if out_fmt in ("raw", "rle") else gray
        # phash describes the STORED bytes (decoded), matching
        # verify_invariants — for q8 hashing the pre-quantization pixels
        # would fail phash_ok
        phash = average_phash_batch(dec)
        checksum = (idx1[None, :, :] * stat.astype(np.int64)).sum(axis=(1, 2))
        yield pd.DataFrame(
            {
                "tile_id": tids.astype(np.int64),
                "bytes": bufs,
                "w": np.full(T, res, dtype=np.int32),
                "h": np.full(T, res, dtype=np.int32),
                "fmt": out_fmt,
                "phash": phash,
                "n_points": n_points,
                "nonzero_px": (stat > 0).sum(axis=(1, 2)).astype(np.int64),
                "max_count": max_count,
                "checksum": checksum,
            }
        )

    spark = points.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    return counts.repartition(n_parts, "tile_id").mapInPandas(
        render,
        schema=(
            "tile_id bigint, bytes binary, w int, h int, fmt string, "
            "phash long, n_points bigint, nonzero_px bigint, "
            "max_count bigint, checksum bigint"
        ),
    )


def tile_pixels(tiles: DataFrame) -> DataFrame:
    """Decode an image-tile table (``tile_id, bytes, w, h, fmt`` — the
    shape :func:`rasterize_density` emits) into SPARSE pixel rows
    (tile_id, px, py, val): only nonzero pixels are emitted, so a mostly
    empty world raster decodes to ~|points| rows, not |tiles|·res².

    One ``mapInArrow`` pass: each sub-batch decodes in one
    :func:`~geojson_spark.sources.images.decode_batch` call, one
    ``np.nonzero`` finds the nonzero channel-0 pixels of all its tiles,
    and each pixel's (px, py) comes from its offset within its tile. A
    tile that does not decode to w·h·3 bytes raises a ValueError naming
    it. No shuffle — the explode happens in place on the scan partitions.
    """
    from geojson_spark.sources.images import decode_all, pixel_sub_batches

    def explode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in pixel_sub_batches(batches):
            pixels, lens, w = decode_all(batch, "tile_id", "tile")
            ch0 = pixels[0::3]  # every tile is whole RGB triples
            (nz,) = np.nonzero(ch0)
            if not nz.size:
                continue
            ends = np.cumsum(lens // 3)
            tile = np.searchsorted(ends, nz, side="right")
            at = nz - (ends - lens // 3)[tile]  # the pixel's offset in its tile
            wt = w[tile]
            yield pa.RecordBatch.from_arrays(
                [batch.column("tile_id").take(pa.array(tile)).cast(pa.int64()),
                 pa.array((at % wt).astype(np.int32)), pa.array((at // wt).astype(np.int32)),
                 pa.array(ch0[nz].astype(np.int64)), pa.array(wt.astype(np.int32))],
                names=["tile_id", "px", "py", "val", "w"],
            )

    return tiles.select("tile_id", "bytes", "w", "h", "fmt").mapInArrow(
        explode, schema="tile_id bigint, px int, py int, val bigint, w int"
    )


def zonal_stats(
    tiles: DataFrame,
    polygons: DataFrame,
    *,
    cpd: int = 1,
    **pip_kwargs,
) -> DataFrame:
    """Raster → vector zonal statistics: aggregate the decoded pixel
    values of density tiles per containing polygon — the classic
    "mean rainfall per county" operator, composed from the engine's own
    parts instead of a bespoke kernel:

    1. :func:`tile_pixels` decodes tiles to sparse nonzero pixels (no
       shuffle, ~|points| rows);
    2. each pixel becomes its CENTER coordinate via the inverse of the
       rasterizer's shared floor derivation
       (``lon = (tx·res + px + ½) / (cpd·res) − 180``), pure Columns;
    3. :func:`geojson_spark.operators.joins.pip_join` assigns polygons
       (adaptive broadcast of the exploded cover — pixels never shuffle
       on the broadcast path);
    4. one hash-agg per polygon: ``n_px``, ``sum_val``, ``max_val`` —
       all integers, so results are exact and order-free at any
       parallelism.

    ``polygons`` needs the engine's flat-polygon shape (poly_id, coords,
    ring_offsets, dim, bbox). ``cpd`` must match the value the tiles
    were rasterized with.
    """
    from geojson_spark.operators.joins import pip_join

    px = tile_pixels(tiles)
    tx = F.floor(F.col("tile_id") / GRID_K).cast("bigint")
    ty = F.pmod(F.col("tile_id"), F.lit(GRID_K)).cast("bigint")
    denom = F.col("w").cast("double") * F.lit(float(cpd))
    centered = px.select(
        "val",
        (((tx * F.col("w") + F.col("px")).cast("double") + F.lit(0.5)) / denom
         - F.lit(180.0)).alias("lon"),
        (((ty * F.col("w") + F.col("py")).cast("double") + F.lit(0.5)) / denom
         - F.lit(90.0)).alias("lat"),
    )
    return (
        pip_join(centered, polygons, **pip_kwargs)
        .groupBy("poly_id")
        .agg(
            F.count("*").alias("n_px"),
            F.sum("val").alias("sum_val"),
            F.max("val").alias("max_val"),
        )
    )
