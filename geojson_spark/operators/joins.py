"""Spatial joins: point-in-polygon, kNN, distance, raster-tile↔vector-cell.

All of them are *compositions of built-in DataFrame ops* around one vectorized
refine kernel (SURVEY.md §2.8): cover/explode → equi-join on cell keys
(Catalyst picks broadcast-hash vs sort-merge; we force broadcast for small
polygon sides per the north rule's 'adaptive broadcast') → exact NumPy
refinement in an Arrow-batched UDF. No driver-side loops over rows; the only
driver logic is plan construction.

Grid kNN, hex kNN and the distance join share one ring-candidate core:
``_grid_ring`` explodes each query to the grid cells of its Chebyshev ring
(hex kNN explodes its k-ring in a UDF instead), and ``_topk`` re-ranks the
candidates, checks completeness and re-solves the rest by brute force. Per
index only the ring and the completeness bound differ.

Scale notes (100 TB design point):
- polygon covers are multi-level: each polygon picks the coarsest cell level
  whose cover fits ``PIP_MAX_COVER_CELLS``, so a continent-sized polygon costs
  ~1k join keys instead of 10^8 level-13 cells; points join each level via
  pure-bit-arithmetic ancestor keys (no UDF, no extra shuffle).
- PIP ships each polygon's geometry once. A polygon side of at most
  ``_PIP_EXACT_ROWS`` rows and ``_PIP_EXACT_BYTES`` of coords is planned on
  the driver: two bounded collects (sizes first, then the geometry; no
  Spark job for a local relation), exact covers from the same NumPy
  functions the cover UDFs run, and a broadcast decision from the exact
  cover rows and bytes. Its cover rows carry only cell keys and ids; the
  geometry rides in the refine UDF's closure as one flat edge table.
  Larger sides keep a bounded sampled probe and carry their coords on
  every cover row. Grid covers explode per cell column, not per cell, on
  both paths. Both refine with one segmented NumPy ray cast, in bounded
  point×edge chunks — no per-polygon loop.
- kNN ring-expansion is Column-only (two sequence-explodes per query).
  The auto ring coarsens the cells instead of widening the ring, so an
  auto-sized query explodes to at most 81 cells whatever the density; the
  completeness check is a window over the re-rank's own partitioning (no
  extra exchange), and the brute-force fallback touches only unsatisfied
  queries (usually none), so the crossJoin never sees the big table.
"""

from __future__ import annotations

import math as _math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from geojson_spark.functions import cells as _cells
from geojson_spark.functions.geometry import EARTH_RADIUS_KM, polygon_cover_cells
from geojson_spark.functions.spark_funcs import (
    GRID_K,
    grid_cell,
    grid_parent,
    haversine_km,
    s2_cell_udf,
    s2_parent_col,
)

# derived from the ONE shared radius constant (spark_funcs re-exports it
# from geometry.py) — a hardcoded 111.19… literal would silently keep the
# old radius in the ring-completeness bounds if the constant ever changed
KM_PER_DEG_LAT = 2.0 * _math.pi * EARTH_RADIUS_KM / 360.0

# adaptive-broadcast budget for pip_join, in *exploded* cover rows — the
# thing actually shipped to every executor
PIP_BROADCAST_MAX_ROWS = 4_000_000
# ... and in estimated bytes shipped to every executor. On the large-side
# path every exploded row carries the polygon's full coords array, so 4M
# rows of multi-KB coastlines would blow Spark's ~8 GB broadcast ceiling
# long before the row gate fires; on the small-side path it is the cover
# rows plus the edge table. 1 GiB leaves headroom for the hash relation's
# ~2x build overhead.
PIP_BROADCAST_MAX_BYTES = 1 << 30
# cover-key budget per polygon: its cover uses the finest ladder level
# that fits
PIP_MAX_COVER_CELLS = 1024

# pip_join plans a polygon side of at most this many rows on the driver;
# the probe of a larger side measures a hash sample of about this many rows
_PIP_EXACT_ROWS = 2048
# ... if its coords take at most this many bytes: the driver holds them as
# Python lists (~4x) and every refine task unpickles their edge table
# (~2x) from the UDF's closure
_PIP_EXACT_BYTES = 1 << 24
# hashed-relation bytes per broadcast cover row on the small-side path:
# the row (≤ 5 fields), its next pointer and its index slot
_PIP_COVER_ROW_BYTES = 64
# point×edge pairs per ray-cast step, and coords per large-side edge table:
# bounds the refine's temporaries whatever the batch and polygon sizes
_PIP_PAIR_CHUNK = 1 << 20
# columns pip_join adds next to the points' own (lower case: Spark
# resolves names case-insensitively)
_PIP_INTERNAL = ("cell_id", "_leaf", "_gy", "_gy0", "_gy1", "_pip_idx", "poly_id", "coords",
                 "ring_offsets", "dim")

# knn_join's auto sizing: the largest ring it plans, and the coarsest cell
# (64°) it halves down to. Halving keeps the cell arithmetic exact and the
# ids inside the GRID_K packing.
_AUTO_RING_MAX = 4
_AUTO_CPD_MIN = 1.0 / 64


# ---------------------------------------------------------------------------
# polygon covers — one NumPy function per index, run by the cover UDFs on
# the large-side path and on the driver for small sides
# ---------------------------------------------------------------------------


GRID_FACTORS = (1, 8, 64, 512)  # coarsening factors for large polygons


def _grid_cover(bbox, cpd: int):
    """Exact grid cover of one bbox as integer ranges ``(fi, gx0, gx1, gy0,
    gy1)`` at the smallest coarsening factor ``GRID_FACTORS[fi]`` whose
    cover fits ``PIP_MAX_COVER_CELLS`` — no sampling, no truncation, and a
    hemisphere costs ~hundreds of keys, never a silent cap. None for a
    missing bbox."""
    if bbox is None or len(bbox) < 4:
        return None
    bb = np.asarray(bbox, dtype=np.float64)
    fi = len(GRID_FACTORS) - 1
    for i, f in enumerate(GRID_FACTORS):
        nx = (bb[2] - bb[0]) * cpd / f + 2
        ny = (bb[3] - bb[1]) * cpd / f + 2
        if nx * ny <= PIP_MAX_COVER_CELLS:
            fi = i
            break
    f = GRID_FACTORS[fi]
    gx0 = int(np.floor((bb[0] + 180.0) * cpd)) // f
    gx1 = int(np.floor((bb[2] + 180.0) * cpd)) // f
    gy0 = int(np.floor((bb[1] + 90.0) * cpd)) // f
    gy1 = int(np.floor((bb[3] + 90.0) * cpd)) // f
    return fi, gx0, gx1, gy0, gy1


_GRID_RANGE = ("_fi", "gx0", "gx1", "gy0", "gy1")


def grid_cover_udf(cpd: int):
    """bbox → the polygon's ``_grid_cover`` as a struct of ``_GRID_RANGE``
    (null fields for a missing bbox)."""

    @F.pandas_udf("_fi int, gx0 bigint, gx1 bigint, gy0 bigint, gy1 bigint")
    def _cover(bbox: pd.Series) -> pd.DataFrame:
        rows = [_grid_cover(b, cpd) or (None,) * 5 for b in bbox]
        return pd.DataFrame(rows, columns=list(_GRID_RANGE), dtype="Int64")

    return _cover


def _explode_grid_cover(ranges: DataFrame, cols) -> DataFrame:
    """``cols`` of each ``_GRID_RANGE`` row, one row per grid column of the
    range: ``cell_id = gx·8 + fi`` (grid ids at different factors collide
    numerically, so keys carry the factor) and the column's row range
    ``_gy0``..``_gy1``, which the join checks against the point's row. A
    (cell, polygon) explode of 64.8k cells built a 4 MiB hashed relation
    (64k distinct keys double both its index and its row page); their
    3.2k columns build one 1 MiB page."""
    # an inverted bbox covers nothing (its sequence would raise)
    ok = (F.col("gx1") >= F.col("gx0")) & (F.col("gy1") >= F.col("gy0"))
    fi = F.col("_fi").cast("bigint")
    keys = F.sequence(F.col("gx0") * 8 + fi, F.col("gx1") * 8 + fi, F.lit(8).cast("bigint"))
    return ranges.select(*cols, F.col("gy0").alias("_gy0"), F.col("gy1").alias("_gy1"),
                         F.explode(F.when(ok, keys)).alias("cell_id"))


def _s2_edge_deg(level: int) -> float:
    """Approximate level-L cell edge in degrees (equatorial face scale)."""
    return 90.0 / (1 << level)


# fixed cover-level ladder: every polygon picks one of these, every point
# joins via its 4 ancestor keys (pure bit arithmetic) — no data-dependent
# driver round-trips, one equi-join total
S2_COVER_LEVELS = (13, 10, 7, 4)


def _s2_cover(bbox) -> np.ndarray:
    """S2 cover of one bbox at the finest ``S2_COVER_LEVELS`` level whose
    cover fits ``PIP_MAX_COVER_CELLS``; empty for a missing bbox. Cell ids
    self-encode their level (trailing bit), so one array carries the
    multi-level cover. Samples the bbox at quarter-cell pitch;
    over-approximation is refined by exact PIP after the join."""
    if bbox is None or len(bbox) < 4:
        return np.empty(0, dtype=np.int64)
    b = np.asarray(bbox, dtype=np.float64)
    span = max(b[2] - b[0], b[3] - b[1], 1e-9)
    level = S2_COVER_LEVELS[-1]
    for lv in S2_COVER_LEVELS:  # finest → coarsest
        if (span / _s2_edge_deg(lv)) ** 2 * 4 <= PIP_MAX_COVER_CELLS:
            level = lv
            break
    # quarter-edge pitch: worst-case sheared cells near face corners have
    # an inscribed axis-aligned square of only ~0.42·edge, so a half-edge
    # lattice could MISS a covering cell entirely — an under-approximation
    # would silently drop points, not just widen candidates
    return polygon_cover_cells(
        b.tolist(),
        lambda lo, la: _cells.s2_cell_id(
            np.clip(lo, -180, 180), np.clip(la, -89.999, 89.999), level
        ),
        _s2_edge_deg(level) / 4.0,
    )


def s2_cover_udf():
    """bbox array → array<cell>: the polygon's ``_s2_cover``."""

    @F.pandas_udf(ArrayType(LongType()))
    def _cover(bbox: pd.Series) -> pd.Series:
        return pd.Series([_s2_cover(b).tolist() for b in bbox])

    return _cover


# ---------------------------------------------------------------------------
# PIP refine kernel
# ---------------------------------------------------------------------------


def _edge_table(coords, ring_offsets, dims) -> tuple:
    """Flat edge table of n polygons, each given as flat ``coords``,
    ``ring_offsets`` (non-negative, in vertices) and ``dim``.

    Returns ``(x1, y1, y2, slope, off)``: per edge the values
    ``points_in_ring`` derives (every ring of the polygon, even-odd; a
    ring's duplicated closing vertex dropped; rings spanning < 3 offsets
    skipped), and polygon i owns edges ``off[i]:off[i + 1]``. A polygon
    with null or empty coords, null ring offsets or dim < 2 has no edges,
    so it contains nothing; a null dim reads 2. Vectorized over polygons:
    the only per-polygon Python unpacks the arrays."""
    n = len(coords)
    dim = pd.Series(dims, dtype="float64").fillna(2).to_numpy().astype(np.int64)
    cs = [None if c is None else np.asarray(c, dtype=np.float64) for c in coords]
    rs = [None if r is None else np.asarray(r, dtype=np.int64) for r in ring_offsets]
    keep = np.flatnonzero(
        np.array([c is not None and c.size > 0 and r is not None for c, r in zip(cs, rs)], dtype=bool)
        & (dim >= 2)
    )
    off = np.zeros(n + 1, dtype=np.int64)
    if keep.size == 0:
        none = np.empty(0, dtype=np.float64)
        return none, none, none, none, off
    flat = np.concatenate([cs[i] for i in keep])
    lens = np.array([cs[i].size for i in keep], dtype=np.int64)
    d = dim[keep]
    base = np.cumsum(lens) - lens  # each polygon's first coord in flat
    nv = (lens + d - 2) // d  # vertices that have both x and y
    ro = [rs[i] for i in keep]
    rl = np.array([r.size for r in ro], dtype=np.int64)
    flat_ro = np.concatenate(ro)
    # rings: polygon p's offsets pair up as (ro[j], ro[j + 1])
    nr = np.maximum(rl - 1, 0)
    rp = np.repeat(np.arange(keep.size), nr)
    j = np.arange(nr.sum()) - np.repeat(np.cumsum(nr) - nr - (np.cumsum(rl) - rl), nr)
    a, b = flat_ro[j], flat_ro[j + 1]
    lo = np.clip(a, 0, nv[rp])  # xs[a:b] clips to the vertices present
    m = np.where(b - a >= 3, np.maximum(np.clip(b, 0, nv[rp]) - lo, 0), 0)
    rb, rd = base[rp], d[rp]
    first, last = rb + lo * rd, rb + (lo + m - 1) * rd
    closed = np.flatnonzero(m > 1)
    m[closed] -= (flat[first[closed]] == flat[last[closed]]) & (
        flat[first[closed] + 1] == flat[last[closed] + 1]
    )
    # a one-vertex ring's only edge has y1 == y2: it never crosses
    m[m < 2] = 0
    er = np.repeat(np.arange(m.size), m)
    t = np.arange(m.sum()) - np.repeat(np.cumsum(m) - m, m)
    i1 = rb[er] + (lo[er] + t) * rd[er]
    i2 = rb[er] + (lo[er] + (t + 1) % m[er]) * rd[er]
    x1, y1 = flat[i1], flat[i1 + 1]
    x2, y2 = flat[i2], flat[i2 + 1]
    with np.errstate(divide="ignore", invalid="ignore"):
        slope = (x2 - x1) / (y2 - y1)
    off[1:] = np.cumsum(np.bincount(keep[rp[er]], minlength=n))
    return x1, y1, y2, slope, off


def _ray_cast(px, py, poly, table, chunk: int = _PIP_PAIR_CHUNK) -> np.ndarray:
    """Segmented even-odd ray cast: ``inside[i]`` iff point ``(px[i],
    py[i])`` lies in polygon ``poly[i]`` of ``table`` (``_edge_table``).
    Every point×edge pair goes through one NumPy pass, ``chunk`` pairs at
    a time (a chunk may split a point's edges), with the IEEE operations
    of ``points_in_ring`` — bit-identical to ``points_in_polygon``."""
    x1, y1, y2, slope, off = table
    n = px.shape[0]
    cnt = off[poly + 1] - off[poly]
    end = np.cumsum(cnt)
    shift = off[poly] + cnt - end  # pair k of point c is edge k + shift[c]
    hits = np.zeros(n, dtype=np.int64)
    for s in range(0, int(end[-1]) if n else 0, chunk):
        k = np.arange(s, min(s + chunk, end[-1]))
        c = np.searchsorted(end, k, side="right")
        e = k + shift[c]
        cy = py[c]
        ey = y1[e]
        with np.errstate(invalid="ignore"):
            # horizontal edges give inf/nan slope; the crossing test is False there
            hit = ((ey > cy) != (y2[e] > cy)) & (px[c] < x1[e] + (cy - ey) * slope[e])
        hits[c[0] : c[-1] + 1] += np.bincount(c[hit] - c[0], minlength=c[-1] + 1 - c[0])
    return hits % 2 == 1


def _refine_udf(table):
    """(lon, lat, poly index) → inside, against the small-side path's edge
    table. The table rides in the UDF's closure, so each task receives the
    geometry once (PySpark broadcasts a command over 1 MB itself)."""

    @F.pandas_udf(BooleanType())
    def _refine(px: pd.Series, py: pd.Series, poly: pd.Series) -> pd.Series:
        return pd.Series(
            _ray_cast(px.to_numpy(np.float64), py.to_numpy(np.float64), poly.to_numpy(np.int64), table)
        )

    return _refine


def _refine_rows(px, py, coords, ring_offsets, dims, chunk: int = _PIP_PAIR_CHUNK) -> np.ndarray:
    """``inside[i]`` iff point i lies in polygon row i (the large-side
    path: every candidate row carries its polygon). Rows go through
    ``_ray_cast`` in slices of at most ``chunk`` coords (a row larger than
    that alone), so a batch of candidates of one large polygon holds one
    slice's edge table, never one per row of the batch."""
    n = len(px)
    ends = np.cumsum([0 if c is None else len(c) for c in coords])
    out = np.zeros(n, dtype=bool)
    lo = 0
    while lo < n:
        base = ends[lo - 1] if lo else 0
        hi = max(lo + 1, int(np.searchsorted(ends, base + chunk, side="right")))
        table = _edge_table(coords[lo:hi], ring_offsets[lo:hi], dims[lo:hi])
        out[lo:hi] = _ray_cast(px[lo:hi], py[lo:hi], np.arange(hi - lo), table, chunk)
        lo = hi
    return out


def pip_refine_udf():
    """(px, py, coords, ring_offsets, dim) → bool for candidate rows that
    carry their polygon (the large-side path): row i is tested against its
    own polygon only, so two polygons that share a ``poly_id`` or a vertex
    signature never mix."""

    @F.pandas_udf(BooleanType())
    def _refine(
        px: pd.Series, py: pd.Series, coords: pd.Series, ring_offsets: pd.Series, dim: pd.Series
    ) -> pd.Series:
        return pd.Series(_refine_rows(px.to_numpy(np.float64), py.to_numpy(np.float64),
                                      coords.to_numpy(), ring_offsets.to_numpy(), dim.to_numpy()))

    return _refine


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------


def _collect_small_side(polygons: DataFrame):
    """The rows ``(poly_id, bbox, coords, ring_offsets, dim)`` of a polygon
    side of at most ``_PIP_EXACT_ROWS`` rows and ``_PIP_EXACT_BYTES`` of
    coords; None for any other side. Two bounded collects — a local
    relation such as ``createDataFrame(pandas)`` collects with no Spark
    job: the first fetches only the coords sizes, so the geometry crosses
    to the driver only when both bounds hold."""
    side = polygons.select("poly_id", "bbox", "coords", "ring_offsets", "dim").limit(
        _PIP_EXACT_ROWS + 1)
    sizes = side.selectExpr("size(coords)").collect()
    # size(null) is null or -1, depending on the session
    if len(sizes) > _PIP_EXACT_ROWS or 8 * sum(max(s or 0, 0) for (s,) in sizes) > _PIP_EXACT_BYTES:
        return None
    return side.collect()


def _small_side_cover(polygons: DataFrame, rows, index: str, cpd: int):
    """The cover of a collected small side, from the cover UDFs' own
    functions, and its row count. The cover has ``cell_id``, ``_pip_idx``
    (the polygon's position in ``rows``) and ``poly_id`` (grid: plus the
    column's row range), and no geometry."""
    spark = polygons.sparkSession
    ids = pd.Series([r.poly_id for r in rows], dtype=object)
    fields = [StructField("_pip_idx", IntegerType()),
              StructField("poly_id", polygons.schema["poly_id"].dataType)]
    if index == "grid":
        ranges = [(i, *c) for i, r in enumerate(rows)
                  if (c := _grid_cover(r.bbox, cpd)) is not None]
        frame = pd.DataFrame(np.array(ranges, dtype=np.int64).reshape(-1, 6),
                             columns=["_pip_idx", *_GRID_RANGE])
        frame.insert(1, "poly_id", ids.to_numpy()[frame["_pip_idx"].to_numpy()])
        fields += [StructField(c, IntegerType() if c == "_fi" else LongType()) for c in _GRID_RANGE]
        cover = _explode_grid_cover(spark.createDataFrame(frame, StructType(fields)),
                                    ["_pip_idx", "poly_id"])
        ok = (frame.gx1 >= frame.gx0) & (frame.gy1 >= frame.gy0)
        return cover, int((frame.gx1 - frame.gx0 + 1)[ok].sum())
    cells = [_s2_cover(r.bbox) for r in rows]
    idx = np.repeat(np.arange(len(cells)), [c.size for c in cells])
    frame = pd.DataFrame({
        "_pip_idx": idx,
        "poly_id": ids.to_numpy()[idx],
        "cell_id": np.concatenate(cells) if cells else np.empty(0, dtype=np.int64),
    })
    cover = spark.createDataFrame(frame, StructType([*fields, StructField("cell_id", LongType())]))
    return cover, len(frame)


def _broadcast_probe(polygons: DataFrame, cover_rows: Column) -> bool:
    """Broadcast decision for a side of more than ``_PIP_EXACT_ROWS`` rows,
    ``cover_rows`` being a polygon's exploded cover rows.

    Two steps, each bounded. Step 1: a bare count — no cover UDF in the
    plan, so Catalyst prunes every column and a side too big to broadcast
    costs one cheap scan and nothing else (a fused count+sample
    aggregation ran the cover UDF on ~1/16 of ALL rows even when the count
    alone decided the answer). Step 2 (small enough sides only): cover and
    bytes stats over a deterministic hash sample of at most
    ``_PIP_EXACT_ROWS`` EXPECTED rows — an absolute bound on cover-UDF
    evaluations, not a fraction that grows with the table."""
    n_polys = polygons.count()
    if n_polys > PIP_BROADCAST_MAX_ROWS:
        return False
    if n_polys == 0:
        return True
    bytes_expr = cover_rows * (F.size(F.col("coords")) * F.lit(8.0) + F.lit(64.0))
    mod = -(-n_polys // _PIP_EXACT_ROWS)  # ceil: n / mod ≤ _PIP_EXACT_ROWS
    sampled = F.pmod(F.xxhash64(F.col("poly_id")), F.lit(mod)) == 0

    # E[cover·bytes], NOT E[cover]·E[bytes]: cover size and coords
    # length are positively correlated (big polygons have both), so the
    # product of means can undershoot by an order of magnitude on a
    # mostly-tiny + few-coastlines mix
    def stats(df: DataFrame):
        return df.select(
            F.count(F.lit(1)).alias("n"),
            F.avg(cover_rows).alias("m"),
            F.avg(bytes_expr).alias("pb"),
        ).first()

    probe = stats(polygons.where(sampled))
    if probe["n"] < min(n_polys, 32):
        # a hash sample can come up (nearly) empty — ids that all hash off
        # residue 0 — and an empty sample's null means would read as 0
        # bytes and approve the broadcast. Too few sampled rows → measure
        # the whole side exactly (never reached when mod == 1: the sample
        # IS the whole side)
        probe = stats(polygons)
    # per exploded row: coords doubles (8 B each) + offsets/key/id overhead
    # (~64 B) — bounds estimated broadcast BYTES, not just rows, so a
    # fat-coords side at modest row count still shuffles
    return (
        n_polys * (probe["m"] or 1.0) <= PIP_BROADCAST_MAX_ROWS
        and n_polys * (probe["pb"] or 0.0) <= PIP_BROADCAST_MAX_BYTES
    )


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    *,
    index: str = "grid",
    cpd: int = 8,
    lon: str = "lon",
    lat: str = "lat",
    broadcast_polygons: bool | None = None,
) -> DataFrame:
    """Point-in-polygon join.

    ``polygons`` must carry ``poly_id``, ``coords``, ``ring_offsets``,
    ``dim``, ``bbox`` (array<double> [minx,miny,maxx,maxy]). Returns points'
    columns + ``poly_id``, one row per (point, containing polygon row).
    ``points`` must not carry a column the join uses internally
    (``_PIP_INTERNAL``: ``poly_id``, ``coords``, ``ring_offsets``, ``dim``,
    ``cell_id`` and the ``_``-prefixed helpers); a ValueError names it.

    Points explode to one key per cover level (S2: the leaf's ancestors;
    grid: the cell's column at each coarsening factor, plus its row, which
    the join checks against the cover column's row range — no id packing,
    so any ``cpd`` works) and equi-join the polygons' cover rows.

    A polygon side of at most 2048 rows and 16 MiB of coords is planned on
    the driver (``_collect_small_side``): exact covers and no probe job.
    Its cover rows carry cell keys, ``poly_id`` and the poly index; the
    geometry reaches the refine once, as a flat edge table in its closure.
    ``broadcast_polygons=None`` (default) broadcasts the cover iff its
    exact rows and bytes (cover rows + edge table) fit the budgets.

    A larger side carries its coords on every cover row, and
    ``broadcast_polygons=None`` decides with ``_broadcast_probe`` (north
    rule 'adaptive broadcast of small polygon sides'): what is broadcast
    is the *exploded* cover, so the gate bounds estimated post-explode
    rows and bytes — polygon count × mean cover size sampled from ≤2048
    polygons — not raw polygon count (a 100k-polygon side with ~1k-cell
    covers would be 10⁸ broadcast rows and OOM the driver). Small sides
    broadcast (points never shuffle); a refused side is hinted to a
    shuffled equi-join, where AQE's skew-join splitting applies.

    Both paths refine with ``_ray_cast``: one segmented ray cast per Arrow
    batch over the candidates' point×edge pairs, in fixed-size chunks.
    """
    if index not in ("grid", "s2"):
        raise ValueError(f"unknown index {index!r}")
    clash = [c for c in points.columns if c.lower() in _PIP_INTERNAL]
    if clash:
        raise ValueError(
            f"pip_join: points column {clash[0]!r} clashes with a column the join "
            "uses internally; rename or drop it first"
        )
    # broadcast path = points never shuffle — which also means the
    # explode+join+refine pandas-UDF stage inherits the raw points
    # partitioning; a 1-partition small-parquet scan would run it all on
    # one core (CLAUDE.md rule). Plan-aware: no-op on healthy inputs.
    from geojson_spark.functions.spark_funcs import ensure_min_partitions

    points = ensure_min_partitions(points)

    # One equi-join, no data-dependent driver round-trips: polygons carry a
    # cover at one level of a fixed ladder; points explode to their ancestor
    # key at every ladder level (pure Column arithmetic). A polygon covers
    # each point position at exactly one ladder level, so no duplicate
    # pairs arise. Point-side fan-out is ladder-width (4), which a
    # broadcast join absorbs without any shuffle.
    if index == "s2":
        pcell = s2_cell_udf(S2_COVER_LEVELS[0])(F.col(lon), F.col(lat))
        leaf = F.col("_leaf")
        pts = points.withColumn("_leaf", pcell).withColumn(
            "cell_id", F.explode(F.array(*[s2_parent_col(leaf, lv) for lv in S2_COVER_LEVELS]))
        ).drop("_leaf")
    else:
        gx = F.floor((F.col(lon) + 180.0) * cpd)
        gy = F.floor((F.col(lat) + 90.0) * cpd)
        levels = [F.struct((F.floor(gx / f) * 8 + fi).alias("cell_id"), F.floor(gy / f).alias("_gy"))
                  for fi, f in enumerate(GRID_FACTORS)]
        pts = points.select("*", F.inline(F.array(*levels)))

    rows = _collect_small_side(polygons)
    if rows is not None:
        table = _edge_table([r.coords for r in rows], [r.ring_offsets for r in rows],
                            [r.dim for r in rows])
        cover, n_cover = _small_side_cover(polygons, rows, index, cpd)
        if broadcast_polygons is None:
            broadcast_polygons = (
                n_cover <= PIP_BROADCAST_MAX_ROWS
                and n_cover * _PIP_COVER_ROW_BYTES + sum(a.nbytes for a in table)
                <= PIP_BROADCAST_MAX_BYTES
            )
        inside = _refine_udf(table)(F.col(lon), F.col(lat), F.col("_pip_idx"))
    else:
        poly_cols = ["poly_id", "coords", "ring_offsets", "dim"]
        if index == "grid":
            r = grid_cover_udf(cpd)(F.col("bbox"))
            cover = _explode_grid_cover(polygons.select(*poly_cols, r.alias("_r")).select(
                *poly_cols, "_r.*"), poly_cols)
            cover_rows = F.when((r.gx1 >= r.gx0) & (r.gy1 >= r.gy0), r.gx1 - r.gx0 + 1).otherwise(0)
        else:
            r = s2_cover_udf()(F.col("bbox"))
            cover = polygons.select(*poly_cols, F.explode(r).alias("cell_id"))
            cover_rows = F.size(r)
        if broadcast_polygons is None:
            broadcast_polygons = _broadcast_probe(polygons, cover_rows)
        inside = pip_refine_udf()(F.col(lon), F.col(lat), F.col("coords"), F.col("ring_offsets"),
                                  F.col("dim"))

    # the exploded cover's size estimate is the pre-explode frame's: hint
    # the shuffle so Catalyst cannot broadcast what the gate refused
    joined = pts.join(F.broadcast(cover) if broadcast_polygons else cover.hint("merge"), "cell_id")
    if index == "grid":
        joined = joined.where(F.col("_gy").between(F.col("_gy0"), F.col("_gy1")))
    return joined.where(inside).drop("cell_id", "_gy", "_gy0", "_gy1", "_pip_idx", "coords",
                                     "ring_offsets", "dim")


def _grid_ring(queries: DataFrame, cols, q_lon: str, q_lat: str, cpd: float,
               rx: int | Column, ry: int | Column) -> DataFrame:
    """``cols`` of each query, one row per grid cell within Chebyshev
    radius ``rx`` (lon) / ``ry`` (lat) of the query's cell, keyed
    ``cell_id``. Radii are ints or per-query Columns (``sequence`` takes
    Column bounds)."""
    rx, ry = (r if isinstance(r, Column) else F.lit(r) for r in (rx, ry))
    gx = F.floor((F.col(q_lon) + 180.0) * cpd).cast("bigint")
    gy = F.floor((F.col(q_lat) + 90.0) * cpd).cast("bigint")
    # two sequence-explodes instead of a (2r+1)^2 literal array: plan size
    # stays O(1) in the ring radius (distance_join radii reach max_ring)
    return (
        queries.select(*cols, gx.alias("_gx"), gy.alias("_gy"),
                       F.explode(F.sequence(-rx, rx)).alias("_dx"))
        .select(*cols, "_gx", "_gy", "_dx", F.explode(F.sequence(-ry, ry)).alias("_dy"))
        .select(*cols, ((F.col("_gx") + F.col("_dx")) * GRID_K
                        + (F.col("_gy") + F.col("_dy"))).alias("cell_id"))
    )


def _topk(cand, queries, points, k, dist, bound, safe, out_cols, names) -> DataFrame:
    """Top-``k`` of the ring candidates ``cand`` per query, by the
    ``dist = (name, Column)`` metric with ties broken by point id (fully
    deterministic), as ``out_cols``.

    ``bound=None`` returns the ring answer as is. Otherwise a query's
    answer is provably complete iff it has ≥ k candidates, its k-th
    distance ≤ ``bound`` (the minimum possible distance to any point
    outside the ring) and ``safe`` holds. That test is a window over the
    query's top-k rows, on the partitioning the re-rank already has; the
    rest are re-solved by brute force — an anti-joined, usually-empty
    residual crossJoined with ``points``.
    ``names`` = (q_id, p_id, q_lon, q_lat, p_lon, p_lat)."""
    from pyspark.sql.window import Window

    dist_name, dist_col = dist
    q_id, p_id, q_lon, q_lat, p_lon, p_lat = names
    w = Window.partitionBy(q_id).orderBy(F.col(dist_name).asc(), F.col(p_id).asc())

    def rank(df: DataFrame) -> DataFrame:
        df = df.withColumn(dist_name, dist_col).withColumn("rn", F.row_number().over(w))
        return df.where(F.col("rn") <= k)

    topk = rank(cand)
    if bound is None:
        return topk.select(*out_cols)
    # partitioned like w and already sorted by q_id: no exchange, no sort
    per_q = Window.partitionBy(q_id)
    ok = (F.count(F.lit(1)).over(per_q) >= k) & (F.max(dist_name).over(per_q) <= bound) & safe
    # topk feeds two consumers (the complete rows, the residual anti-join)
    # — eager localCheckpoint materializes it once AND lets the
    # ContextCleaner reclaim the blocks when the DataFrame is GC'd (a
    # .cache() here would leak storage across repeated calls)
    topk = topk.withColumn("_ok", ok).localCheckpoint(eager=True)
    complete = topk.where("_ok")
    done = complete.where(F.col("rn") == 1).select(q_id)
    residual = queries.join(F.broadcast(done), q_id, "left_anti").select(q_id, q_lon, q_lat)
    brute = rank(residual.crossJoin(points.select(p_id, p_lon, p_lat)))
    return complete.select(*out_cols).unionByName(brute.select(*out_cols))


def _auto_ring(n_points: int, k: int, cpd: float) -> tuple[int, float]:
    """``(ring, cpd)`` for ``knn_join(ring="auto")``: the smallest ring
    whose (2r+1)² cells hold ≥ 4k points at the global density, at the
    finest cell size — ``cpd`` halved as often as needed — where that ring
    is ≤ ``_AUTO_RING_MAX``. At the ``_AUTO_CPD_MIN`` floor the ring is
    clamped instead: ring 4 of 64° cells spans every latitude and ≥ 256°
    of longitude each way, and the completeness bound re-solves any query
    the ring still misses."""
    while True:
        density = max(n_points / ((360 * cpd) * (180 * cpd)), 1e-12)
        # (2r+1)^2 * density >= 4k  =>  r >= (sqrt(4k/density) - 1) / 2
        ring = max(1, int(np.ceil((np.sqrt(4.0 * k / density) - 1.0) / 2.0)))
        if ring <= _AUTO_RING_MAX or cpd / 2 < _AUTO_CPD_MIN:
            return min(ring, _AUTO_RING_MAX), cpd
        cpd /= 2


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    *,
    ring: int | str = "auto",
    cpd: int = 8,
    q_id: str = "q_id",
    p_id: str = "p_id",
    q_lon: str = "q_lon",
    q_lat: str = "q_lat",
    p_lon: str = "p_lon",
    p_lat: str = "p_lat",
    exact: bool = True,
    metric: str = "haversine",
) -> DataFrame:
    """k nearest neighbors by haversine via grid ring expansion + re-rank.

    Phase 1: candidates = equi-join on all cells within Chebyshev ring
    ``ring`` of the query cell (two ``sequence`` explodes — pure Column
    ops, whole-stage codegen). Window re-rank keeps the top k (ties broken
    by point id → fully deterministic).

    Phase 2 (``exact``): a query's result is provably complete iff its k-th
    distance ≤ the minimum possible distance to any point outside the ring.
    Queries failing the bound (or with <k candidates) are re-solved by
    brute force — an anti-joined, usually-empty residual.

    ``ring="auto"`` sizes the cells, not just the ring, from the measured
    global point density so the expected candidate count is ~4k per query:
    ``cpd`` is then the finest cell size, halved until a ring of ≤ 4 cells
    reaches that count (``_auto_ring``). A too-small ring sends every query
    down the brute-force fallback (the ring join finds <k candidates),
    which at cluster scale is the difference between an equi-join and a
    crossJoin over the whole point table; a wide ring of fine cells
    broadcasts (2r+1)² rows per query. The density probe is one cheap
    count() (parquet row-group metadata). Exact answers do not depend on
    the sizing; ``exact=False`` ring answers do, and may differ between
    sizings. An explicit int ``ring`` uses ``cpd`` as given.
    """
    if ring == "auto":
        ring, cpd = _auto_ring(points.count(), k, cpd)

    cell_deg = 1.0 / cpd
    if metric == "haversine":
        dist = haversine_km(F.col(q_lon), F.col(q_lat), F.col(p_lon), F.col(p_lat))
        # completeness bound: a point outside Chebyshev ring r differs by ≥
        # r whole cells (r/cpd degrees) in lon or lat. The great-circle
        # distance for an angular separation θ is 2R·sin(θ/2) — the
        # CHORD-derived form, NOT the arc length R·θ: for lat-separation d,
        # dist = 2R·sin(d/2); for lon-separation d at |φ| ≤ lat_worst,
        # dist = 2R·asin(√h) ≥ 2R·√h ≥ 2R·cos(lat_worst)·sin(d/2). The
        # previous linear bound 0.999·r·cell_deg·KM_PER_DEG overstated the
        # true minimum once the ring spanned more than ~8.9° (sin(x)/x <
        # 0.999), so wide rings could wrongly mark queries complete;
        # 2R·sin(θ/2)·cos is exact-direction for ANY θ (0.999 retained
        # purely as float-rounding slack).
        lat_worst = F.least(F.lit(89.9), F.abs(F.col(q_lat)) + F.lit((ring + 1) * cell_deg))
        half_sin = _math.sin(_math.radians(min(ring * cell_deg, 180.0)) / 2.0)
        bound = F.lit(0.999 * 2.0 * EARTH_RADIUS_KM * half_sin) * F.least(
            F.lit(1.0), F.cos(F.radians(lat_worst))
        )
        # the planar grid has no wraparound, so the cell-separation
        # argument is invalid for queries whose ring could reach across
        # the antimeridian or a pole (a point 2 km away at lon ∓180-ε is
        # thousands of cells away in gx) — such queries are never marked
        # complete and fall through to the brute-force residual
        margin = (ring + 1) * cell_deg
        safe = (F.abs(F.col(q_lon)) <= 180.0 - margin) & (
            F.abs(F.col(q_lat)) <= 90.0 - margin
        )
    elif metric == "euclidean_deg2":
        # squared equirectangular-degree distance: only IEEE +/* — bit-exact
        # reproducible in any SQL engine (used by the DuckDB-oracle query)
        dx = F.col(p_lon) - F.col(q_lon)
        dy = F.col(p_lat) - F.col(q_lat)
        dist = dx * dx + dy * dy
        # dist² ≥ (r·cell_deg)²; the metric itself is planar-degree, so no
        # wraparound concern
        bound = F.lit((ring * cell_deg) ** 2)
        safe = F.lit(True)
    else:
        raise ValueError(f"unknown metric {metric!r}")

    q = _grid_ring(queries, (q_id, q_lon, q_lat), q_lon, q_lat, cpd, ring, ring)
    p = points.select(
        p_id, p_lon, p_lat, grid_cell(F.col(p_lon), F.col(p_lat), cpd).alias("cell_id")
    )
    names = (q_id, p_id, q_lon, q_lat, p_lon, p_lat)
    out_cols = [q_id, q_lon, q_lat, p_id, p_lon, p_lat, "dist_km", "rn"]
    return _topk(q.join(p, "cell_id"), queries, points, k, ("dist_km", dist),
                 bound if exact else None, safe, out_cols, names)


def knn_join_hex(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    *,
    ring: int = 2,
    res: int | str = "auto",
    q_id: str = "q_id",
    p_id: str = "p_id",
    q_lon: str = "q_lon",
    q_lat: str = "q_lat",
    p_lon: str = "p_lon",
    p_lat: str = "p_lat",
    exact: bool = True,
) -> DataFrame:
    """kNN via hex k-ring expansion (the north star's 'kNN via H3 k-ring
    expansion with distance re-rank'), squared-degree metric.

    Queries explode to their ring-``ring`` hex neighborhood (NumPy k_ring in
    one Arrow batch), equi-join points on hex cell, window re-rank. With
    ``exact``, completeness uses the lattice bound: hexes at hex-distance
    > r have center separation ≥ 1.5·(r+1)·size along the lattice
    diagonal, points deviate ≤ size from centers; failing queries fall
    back to brute force.

    ``res="auto"`` picks the finest resolution whose ring-``ring``
    neighborhood is expected to hold ~4k points at the measured global
    density — a fixed fine res on sparse data sends every query down the
    brute-force fallback (same rationale as knn_join's auto ring).
    """
    from geojson_spark.functions.cells import _hex_size, hex_k_ring
    from geojson_spark.functions.spark_funcs import hex_cell_udf

    if res == "auto":
        n_points = points.count()
        ring_cells = 1 + 3 * ring * (ring + 1)
        res = 0
        for r in range(15, -1, -1):  # finest acceptable wins
            cell_area = 1.5 * (3.0**0.5) * _hex_size(r) ** 2
            if n_points * cell_area / 64800.0 * ring_cells >= 4.0 * k:
                res = r
                break

    @F.pandas_udf(ArrayType(LongType()))
    def _ring(lon: pd.Series, lat: pd.Series) -> pd.Series:
        cells = _cells.hex_cell_id(lon.to_numpy(np.float64), lat.to_numpy(np.float64), res)
        rings = hex_k_ring(cells, ring)
        return pd.Series([row.tolist() for row in rings])

    q = queries.select(q_id, q_lon, q_lat, F.explode(_ring(F.col(q_lon), F.col(q_lat))).alias("hex_id"))
    p = points.select(p_id, p_lon, p_lat, hex_cell_udf(res)(F.col(p_lon), F.col(p_lat)).alias("hex_id"))
    dx = F.col(p_lon) - F.col(q_lon)
    dy = F.col(p_lat) - F.col(q_lat)
    # a point outside hex-ring r has hex-distance ≥ r+1; center separation
    # per unit hex distance is MINIMIZED along the lattice diagonal at
    # 1.5·size (the √3·size axis value is the maximum, not the minimum, so
    # √3·r − 2 over-promises for r ≥ 7); points deviate ≤ size from their
    # centers
    bound2 = max(0.0, (1.5 * (ring + 1) - 2.0) * _hex_size(res)) ** 2
    names = (q_id, p_id, q_lon, q_lat, p_lon, p_lat)
    return _topk(q.join(p, "hex_id"), queries, points, k, ("dist2", dx * dx + dy * dy),
                 F.lit(bound2) if exact else None, F.lit(True),
                 [q_id, p_id, "dist2", "rn"], names)


def distance_join(
    queries: DataFrame,
    points: DataFrame,
    radius: float,
    *,
    cpd: int = 8,
    metric: str = "euclidean_deg2",
    q_id: str = "q_id",
    p_id: str = "p_id",
    q_lon: str = "q_lon",
    q_lat: str = "q_lat",
    p_lon: str = "p_lon",
    p_lat: str = "p_lat",
    max_ring: int = 32,
) -> DataFrame:
    """Within-distance (radius) join: every (query, point) pair with
    distance ≤ ``radius`` — degrees for ``euclidean_deg2`` (compared as
    dist² ≤ radius², only IEEE +/−/× so a SQL oracle replays it
    bit-exactly), km for ``haversine``.

    Plan shape: points get their grid cell; queries explode to the
    Chebyshev cell ring that provably contains every point within the
    radius, equi-join on cell, exact predicate refines. Each point lies in
    exactly ONE cell, so a pair is emitted exactly once — no dedup shuffle.

    Completeness: with cells of 1/cpd degrees, |Δlon| ≤ dlon implies the
    cell x-indices differ by ≤ floor(dlon·cpd)+1 ≤ ceil(dlon·cpd)+1 — the
    ring radius used (same for lat). For haversine the lon radius scales by
    1/cos(lat_worst) (0.999 guards the sin(x)≈x bound, as in knn_join) and
    is a per-query Column — ``sequence`` takes Column bounds, so dense
    equatorial queries don't pay a polar query's fan-out. Queries whose
    ring could cross the antimeridian/pole, or whose lon fan-out exceeds
    ``max_ring`` cells, are re-solved by a brute-force residual (exactly
    knn_join's pattern; empty for equatorial workloads).

    Scale: one equi-join shuffle; fan-out = ring² cells per query; AQE
    skew-join splits dense cells. No UDF anywhere.
    """
    dxc = F.col(p_lon) - F.col(q_lon)
    dyc = F.col(p_lat) - F.col(q_lat)
    if metric == "euclidean_deg2":
        ring = int(np.ceil(radius * cpd)) + 1
        rx = F.lit(ring).cast("bigint")
        ry = F.lit(ring).cast("bigint")
        pred = (dxc * dxc + dyc * dyc) <= F.lit(float(radius) * float(radius))
        # planar metric: no wraparound pairs, but the max_ring fan-out cap
        # still binds — a radius·cpd beyond it would explode (2·ring+1)²
        # cells per query, so those radii fall to the bounded brute-force
        # residual exactly like unsafe haversine queries (all-or-nothing
        # here since the planar ring is query-independent)
        safe = F.lit(ring <= max_ring)
    elif metric == "haversine":
        dlat_deg = radius / (0.999 * KM_PER_DEG_LAT)
        ry = F.lit(int(np.ceil(dlat_deg * cpd)) + 1).cast("bigint")
        lat_worst = F.least(F.lit(89.9), F.abs(F.col(q_lat)) + F.lit(dlat_deg))
        dlon_deg = F.lit(radius / (0.999 * KM_PER_DEG_LAT)) / F.cos(F.radians(lat_worst))
        rx = (F.ceil(dlon_deg * cpd) + 1).cast("bigint")
        pred = haversine_km(F.col(q_lon), F.col(q_lat), F.col(p_lon), F.col(p_lat)) <= F.lit(
            float(radius)
        )
        cell_deg = 1.0 / cpd
        safe = (
            (rx <= max_ring)
            & (F.abs(F.col(q_lon)) <= 180.0 - (dlon_deg + cell_deg))
            & (F.abs(F.col(q_lat)) <= 90.0 - (dlat_deg + cell_deg))
        )
    else:
        raise ValueError(f"unknown metric {metric!r}")

    q_cols = (q_id, q_lon, q_lat)
    cells = _grid_ring(queries.where(safe), q_cols, q_lon, q_lat, cpd, rx, ry)
    p = points.select(
        p_id, p_lon, p_lat, grid_cell(F.col(p_lon), F.col(p_lat), cpd).alias("cell_id")
    )
    out_cols = [q_id, q_lon, q_lat, p_id, p_lon, p_lat]
    near = cells.join(p, "cell_id").where(pred)
    result = near.select(*out_cols)
    # unsafe queries (wrap hazard or ring > max_ring) re-solve by brute
    # force; when `safe` is literally true Catalyst's PropagateEmptyRelation
    # prunes the entire crossJoin branch, so the common case pays nothing
    residual = queries.where(~safe).select(*q_cols)
    brute = residual.crossJoin(points.select(p_id, p_lon, p_lat)).where(pred).select(*out_cols)
    return result.unionByName(brute)


def tile_join(
    points_with_cell: DataFrame,
    tiles: DataFrame,
    *,
    cell_col: str = "cell_id",
    tile_col: str = "tile_id",
    factor: int = 16,
) -> DataFrame:
    """Raster-tile ↔ vector-cell join: tile ids are coarser cells, so this
    is an equi-join on pure Column arithmetic (north rule; no UDF)."""
    keyed = points_with_cell.withColumn(tile_col, grid_parent(F.col(cell_col), factor))
    return keyed.join(tiles, tile_col)


def bbox_join(
    left: DataFrame,
    right: DataFrame,
    *,
    cpd: float = 1.0,
    a_box: tuple[str, str, str, str] = ("ax0", "ay0", "ax1", "ay1"),
    b_box: tuple[str, str, str, str] = ("bx0", "by0", "bx1", "by1"),
) -> DataFrame:
    """Rectangle-intersection join (PBSM — partition-based spatial merge).

    Both sides explode to the integer grid cells their boxes overlap
    (``sequence``/``explode`` on pure Column arithmetic), equi-join on
    (gx, gy), and the exact closed-box overlap predicate refines. A pair
    whose boxes straddle several cells would duplicate, so each pair is
    emitted EXACTLY ONCE by the reference-point rule: keep it only in the
    cell containing the intersection's min corner (max of the min
    corners) — the classic PBSM dedup, which costs a comparison instead
    of a global dropDuplicates shuffle. Returns all left+right columns.

    Scale notes: one shuffle (the cell equi-join); fan-out = box area in
    cells, so pick ``cpd`` (cells per degree) so typical boxes span a few
    cells; AQE skew-join handles dense cells. No crossJoin, no UDF — the
    whole operator is whole-stage codegen.
    """
    ax0, ay0, ax1, ay1 = (F.col(c) for c in a_box)
    bx0, by0, bx1, by1 = (F.col(c) for c in b_box)

    def gcell(v):
        return F.floor((v + 180.0) * cpd).cast("bigint")

    la = left.withColumn("gx", F.explode(F.sequence(gcell(ax0), gcell(ax1)))).withColumn(
        "gy", F.explode(F.sequence(gcell(ay0), gcell(ay1)))
    )
    rb = right.withColumn("gx", F.explode(F.sequence(gcell(bx0), gcell(bx1)))).withColumn(
        "gy", F.explode(F.sequence(gcell(by0), gcell(by1)))
    )
    overlap = (ax0 <= bx1) & (bx0 <= ax1) & (ay0 <= by1) & (by0 <= ay1)
    ref_ok = (gcell(F.greatest(ax0, bx0)) == F.col("gx")) & (
        gcell(F.greatest(ay0, by0)) == F.col("gy")
    )
    return la.join(rb, ["gx", "gy"]).where(overlap & ref_ok).drop("gx", "gy")


# ---------------------------------------------------------------------------
# temporal joins: as-of and range (interval) — single-shuffle patterns
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_time: str,
    right_time: str,
    right_cols: dict[str, str],
    right_tie: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: each left row picks the latest right row with
    ``right_time <= left_time`` (``direction="backward"``) or the earliest
    with ``right_time >= left_time`` (``"forward"``) for the same ``key``.
    Backward breaks right_time ties by the LARGEST ``right_tie``, forward
    by the SMALLEST. Unmatched left rows keep nulls.

    Scale path: the naive formulation (theta-join + row_number) shuffles a
    fat |left|x|right-per-key| intermediate. This implementation instead
    UNIONs both sides tagged, sorts once per key by (time, side, tie), and
    fills the right columns with ``last(..., ignorenulls)`` over an
    unbounded-preceding window (backward; forward uses ``first`` over
    unbounded-following) — ONE shuffle, linear intermediate, the same
    pattern Flink/KDB use for as-of. At equal timestamps the right row
    sorts on the inclusive side, giving ``<=`` / ``>=`` semantics.

    ``right_cols`` maps output name -> right column name.
    """
    from pyspark.sql.window import Window

    if direction not in ("backward", "forward"):
        raise ValueError(f"unknown direction {direction!r}")
    backward = direction == "backward"

    lt = left.withColumn("_t", F.col(left_time)).withColumn("_side", F.lit(1))
    # right rows sort before left at equal _t for backward (so last() sees
    # them), after left for forward (so first() sees them). Rows with a
    # NULL right_time can never satisfy <=/>= and are excluded (they would
    # otherwise sort nulls-first and forward-fill into everything).
    r_side = 0 if backward else 2
    r_sel = [F.col(key), F.col(right_time).alias("_t"), F.lit(r_side).alias("_side")]
    r_sel += [F.col(src).alias(f"_r_{out}") for out, src in right_cols.items()]
    order = [F.col("_t").asc(), F.col("_side").asc()]
    if right_tie is not None:
        r_sel.append(F.col(right_tie).alias("_tie"))
        # backward: last() picks max tie at equal time (asc order);
        # forward: first() picks min tie at equal time (asc order)
        order.append(F.col("_tie").asc_nulls_first())
    rt = right.where(F.col(right_time).isNotNull()).select(*r_sel)
    u = lt.unionByName(rt, allowMissingColumns=True)
    base = Window.partitionBy(key).orderBy(*order)
    # fill ONE struct holding the whole winning right row, then unpack:
    # per-column last(ignorenulls) would backfill a NULL inside the
    # matched row from an OLDER row, tearing values from different rows
    rs = F.when(
        F.col("_side") == r_side,
        F.struct(*[F.col(f"_r_{out}").alias(out) for out in right_cols]),
    )
    if backward:
        w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        row_struct = F.last(rs, ignorenulls=True).over(w)
    else:
        w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        row_struct = F.first(rs, ignorenulls=True).over(w)
    # a left row with NULL left_time can never satisfy <=/>= either — but
    # under asc() NULLS-FIRST ordering the FORWARD window would hand it the
    # key's earliest right row (backward happened to be safe only because
    # nulls sort to the head); null the fill explicitly so both directions
    # agree on dirty data
    row_struct = F.when(F.col("_t").isNotNull(), row_struct)
    fills = [row_struct[out].alias(out) for out in right_cols]
    filled = u.select(*[F.col(c) for c in left.columns], F.col("_side"), *fills)
    return filled.where(F.col("_side") == 1).drop("_side")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    key: str,
    point_time: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Interval join: pairs every interval row with the points of the same
    ``key`` whose ``point_time`` falls in ``[start_col, end_col)``.

    Scale path: a raw range condition forces a theta-join (broadcast
    nested-loop at cluster scale). Instead each interval explodes to the
    epoch buckets it covers (``sequence`` — pure Column arithmetic, fan-out
    = interval length / bucket), each point computes its single bucket, and
    the join is an equi-join on (key, bucket) that Catalyst plans as a
    hash join with AQE skew handling; the exact range predicate refines.
    Each (interval, point) pair meets in exactly one bucket, so no
    dedup pass is needed.
    """
    b = F.lit(int(bucket_seconds))
    iv = intervals.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / b),
                F.floor(F.unix_timestamp(F.col(end_col)) / b),
            )
        ),
    )
    pt = points.withColumn("_bkt", F.floor(F.unix_timestamp(F.col(point_time)) / b))
    joined = iv.join(pt, [key, "_bkt"]).where(
        (F.col(point_time) >= F.col(start_col)) & (F.col(point_time) < F.col(end_col))
    )
    return joined.drop("_bkt")
