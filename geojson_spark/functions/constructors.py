"""Geometry constructors and typed extractors (SURVEY.md §2.4, C6/C7/C9).

The reference's geo-types ⇄ geojson conversion lattice, re-expressed as
Column expressions over the geometry struct:

- constructors (C6, from_geo_types.rs:9-166): st_point, st_line (2-point
  LineString), st_triangle / st_rect (closed-ring Polygons, matching the
  Triangle→Polygon and Rect→5-point-wound-Polygon conversions, test
  vectors from_geo_types.rs:300-360), st_multipoint, st_linestring,
  st_polygon, st_multilinestring, st_multipolygon,
  st_geometry_collection — all pure ``F.struct``/array Column ops except
  the GC child serializer (one Arrow-batched UDF).
- extractors (C7, to_geo_types.rs:10-182): per-variant
  ``expect_<variant>`` guards raising InvalidGeometryConversion with the
  reference's message on a type mismatch; position/ring extractors invert
  the constructors (flat coords + offset arrays → nested position
  arrays); ``feature_geometry`` raises FeatureHasNoGeometry on a null
  geometry (to_geo_types.rs:184-238 Feature TryFrom arm).
- envelope lattice (C9): ``feature_from_geometry`` copies bbox + foreign
  members from a Geometry into a Feature (src/feature.rs:140-150);
  GC → FeatureCollection rows via ``geometry_collection_to_features``
  (from_geo_types.rs:120-140).
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StringType

from geojson_spark.errors import FeatureHasNoGeometry, InvalidGeometryConversion


def _geom_struct(geom_type: str, coords: Column, ring_offsets, part_offsets, dim: int = 2):
    """Literal-offset variant (fixed-arity constructors)."""
    return _geom_struct_cols(
        geom_type,
        coords,
        F.array(*[F.lit(int(v)).cast("int") for v in ring_offsets]),
        F.array(*[F.lit(int(v)).cast("int") for v in part_offsets]),
        dim,
    )


def _geom_struct_cols(
    geom_type: str,
    coords: Column,
    ring_offsets: Column,
    part_offsets: Column,
    dim: int = 2,
    geoms_json: Column | None = None,
):
    return F.struct(
        F.lit(geom_type).alias("geom_type"),
        coords.alias("coords"),
        ring_offsets.alias("ring_offsets"),
        part_offsets.alias("part_offsets"),
        F.lit(dim).alias("dim"),
        (geoms_json if geoms_json is not None else F.lit(None).cast("string")).alias(
            "geoms_json"
        ),
        F.lit(None).cast("array<double>").alias("bbox"),
        F.lit(None).cast("string").alias("foreign_members"),
    )


def _flat(positions: Column) -> Column:
    """array<position> → flat interleaved coords."""
    return F.flatten(positions)


def _running_offsets(arrs: Column, count) -> Column:
    """[0, c₁, c₁+c₂, …] as array<long> — ``count(elem)`` gives each
    element's contribution. Pure ``F.aggregate``; O(n) per row."""
    zero = F.array(F.lit(0).cast("int"))
    return F.aggregate(
        arrs,
        zero,
        lambda acc, r: F.concat(
            acc, F.array((F.element_at(acc, -1) + count(r)).cast("int"))
        ),
    )


# ---------------------------------------------------------------------------
# C6 constructors
# ---------------------------------------------------------------------------


def st_point(x: Column, y: Column) -> Column:
    """C6: geo Point → geometry struct (from_geo_types.rs:9-17)."""
    return _geom_struct("Point", F.array(x.cast("double"), y.cast("double")), [0, 1], [0, 1])


def st_line(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """C6: geo Line → 2-point LineString (from_geo_types.rs:46-54)."""
    coords = F.array(*[c.cast("double") for c in (x1, y1, x2, y2)])
    return _geom_struct("LineString", coords, [0, 2], [0, 1])


def st_triangle(x1, y1, x2, y2, x3, y3) -> Column:
    """C6: geo Triangle → closed-ring Polygon (from_geo_types.rs:57-65;
    test :311-320 — ring closed by repeating the first vertex)."""
    coords = F.array(*[c.cast("double") for c in (x1, y1, x2, y2, x3, y3, x1, y1)])
    return _geom_struct("Polygon", coords, [0, 4], [0, 1])


def st_rect(min_x, min_y, max_x, max_y) -> Column:
    """C6: geo Rect → 5-point wound Polygon (from_geo_types.rs:68-76).
    Winding matches the reference's test vector (:321-333 /
    geo_types Rect::to_polygon): starts at (max_x, min_y), proceeds
    (max_x, max_y), (min_x, max_y), (min_x, min_y), closes."""
    coords = F.array(
        *[
            c.cast("double")
            for c in (
                max_x, min_y, max_x, max_y, min_x, max_y, min_x, min_y, max_x, min_y,
            )
        ]
    )
    return _geom_struct("Polygon", coords, [0, 5], [0, 1])


def st_multipoint(positions: Column) -> Column:
    """C6: geo MultiPoint → struct (from_geo_types.rs:20-32).
    ``positions`` is array<array<double>>, one inner array per position."""
    n = F.size(positions)
    ring = F.array(F.lit(0).cast("int"), n.cast("int"))
    return _geom_struct_cols(
        "MultiPoint", _flat(positions), ring, F.array(F.lit(0).cast("int"), F.lit(1).cast("int"))
    )


def st_linestring(positions: Column) -> Column:
    """C6: geo LineString → struct (from_geo_types.rs:35-43). Same
    position-array input shape as :func:`st_multipoint`."""
    n = F.size(positions)
    ring = F.array(F.lit(0).cast("int"), n.cast("int"))
    return _geom_struct_cols(
        "LineString", _flat(positions), ring, F.array(F.lit(0).cast("int"), F.lit(1).cast("int"))
    )


def st_polygon(rings: Column) -> Column:
    """C6: geo Polygon → struct (from_geo_types.rs:89-98). ``rings`` is
    array<array<array<double>>> — outer ring first, then holes, each ring
    an array of positions (GeoJSON coordinate nesting). Offsets are
    running sums via ``F.aggregate`` — no UDF."""
    ring_offsets = _running_offsets(rings, F.size)
    part_offsets = F.array(F.lit(0).cast("int"), F.size(rings).cast("int"))
    return _geom_struct_cols("Polygon", _flat(F.flatten(rings)), ring_offsets, part_offsets)


def st_multilinestring(lines: Column) -> Column:
    """C6: geo MultiLineString → struct (from_geo_types.rs:79-87).
    ``lines`` is array<array<array<double>>>, one position-array per line;
    each line is its own part with exactly one ring (codec shape
    convention)."""
    ring_offsets = _running_offsets(lines, F.size)
    part_offsets = F.transform(
        F.sequence(F.lit(0), F.size(lines)), lambda i: i.cast("int")
    )
    return _geom_struct_cols(
        "MultiLineString", _flat(F.flatten(lines)), ring_offsets, part_offsets
    )


def st_multipolygon(polygons: Column) -> Column:
    """C6: geo MultiPolygon → struct (from_geo_types.rs:101-109).
    ``polygons`` is array<array<array<array<double>>>> (GeoJSON nesting:
    polygons → rings → positions)."""
    all_rings = F.flatten(polygons)
    ring_offsets = _running_offsets(all_rings, F.size)
    part_offsets = _running_offsets(polygons, F.size)
    return _geom_struct_cols(
        "MultiPolygon", _flat(F.flatten(all_rings)), ring_offsets, part_offsets
    )


def st_geometry_collection(geoms: Column) -> Column:
    """C6: geo GeometryCollection → struct (from_geo_types.rs:112-118).
    ``geoms`` is an array of geometry structs; children serialize to the
    codec's canonical ``geoms_json`` through one Arrow-batched UDF (the
    only non-Column step in the constructor family)."""

    @F.arrow_udf(StringType())
    def _children_json(arr: pa.Array) -> pa.Array:
        from geojson_spark.functions.geojson_codec import serialize_geometries_batch

        offs = arr.offsets.to_numpy()
        texts = serialize_geometries_batch(arr.values.slice(offs[0], offs[-1] - offs[0]))
        offs = (offs - offs[0]).tolist()
        valid = arr.is_valid().to_numpy(zero_copy_only=False).tolist()
        return pa.array(["[" + ",".join(texts[a:b]) + "]" if v else "[]"
                         for a, b, v in zip(offs[:-1], offs[1:], valid)], pa.string())

    return _geom_struct_cols(
        "GeometryCollection",
        F.array().cast("array<double>"),
        F.array(F.lit(0).cast("int")),
        F.array(F.lit(0).cast("int")),
        # dim=0, matching parse_geometry_obj's GC structs — a dim=2 here
        # made constructed and re-parsed collections struct-UNEQUAL
        # (breaking struct joins / dropDuplicates on the geometry column)
        0,
        geoms_json=_children_json(geoms),
    )


# ---------------------------------------------------------------------------
# C9 envelope lattice
# ---------------------------------------------------------------------------


def feature_from_geometry(geometry: Column, *, feature_idx: Column | None = None) -> Column:
    """C9: Geometry → Feature struct, copying bbox + foreign members up
    into the feature envelope (src/feature.rs:140-150: ``bbox:
    geom.bbox.clone(), foreign_members: geom.foreign_members.clone(), id:
    None, properties: None``)."""
    return F.struct(
        (feature_idx if feature_idx is not None else F.lit(-1).cast("long")).alias(
            "feature_idx"
        ),
        geometry.alias("geometry"),
        geometry["bbox"].alias("bbox"),
        F.lit(None).cast("string").alias("id_json"),
        F.lit(None).cast("string").alias("properties"),
        geometry["foreign_members"].alias("foreign_members"),
    )


def geometry_collection_to_features(
    df: DataFrame, geometry_col: str = "geometry"
) -> DataFrame:
    """C6/C9: GeometryCollection rows → one Feature row per child geometry
    (From<&GeometryCollection> for FeatureCollection,
    from_geo_types.rs:120-140, whose per-child ``.into()`` is the
    Geometry→Feature conversion of feature.rs:140-150 — so a child that
    carries bbox/foreign members keeps them on its feature envelope;
    id/properties stay None). Non-collection rows wrap as single
    features (child_idx -1)."""
    from geojson_spark.sources.geojson import explode_geometry_collections

    exploded = explode_geometry_collections(df, geometry_col)
    return exploded.withColumn(
        "feature", feature_from_geometry(F.col(geometry_col))
    )


def geometries_to_collection(df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """C9: FromIterator<geo Geometry> for GeoJson (src/geojson.rs:93-98) —
    collect a geometry column into ONE GeometryCollection row. The
    collect_list agg is the Spark spelling of the iterator fold; use per
    group-by key for per-partition collections."""
    return df.agg(F.collect_list(geometry_col).alias("_geoms")).select(
        st_geometry_collection(F.col("_geoms")).alias(geometry_col)
    )


# ---------------------------------------------------------------------------
# C7 typed extractors
# ---------------------------------------------------------------------------


def expect_geometry(geometry: Column, expected_type: str) -> Column:
    """C7 typed extraction guard: passes the struct through, raising
    InvalidGeometryConversion ('Expected type: `X`, but found `Y`',
    to_geo_types.rs:383-388) on mismatch. Arrow-batched check."""

    @F.pandas_udf(BooleanType())
    def _check(gt: pd.Series) -> pd.Series:
        bad = gt[(gt.notna()) & (gt != expected_type)]
        if len(bad):
            raise InvalidGeometryConversion(expected_type, str(bad.iloc[0]))
        return pd.Series([True] * len(gt))

    return _check(geometry["geom_type"])


def expect_point(g: Column) -> Column:
    """to_geo_types.rs:10-21."""
    return expect_geometry(g, "Point")


def expect_multi_point(g: Column) -> Column:
    """to_geo_types.rs:25-44."""
    return expect_geometry(g, "MultiPoint")


def expect_line_string(g: Column) -> Column:
    """to_geo_types.rs:46-60."""
    return expect_geometry(g, "LineString")


def expect_multi_line_string(g: Column) -> Column:
    """to_geo_types.rs:62-78."""
    return expect_geometry(g, "MultiLineString")


def expect_polygon(g: Column) -> Column:
    """to_geo_types.rs:80-94."""
    return expect_geometry(g, "Polygon")


def expect_multi_polygon(g: Column) -> Column:
    """to_geo_types.rs:96-111."""
    return expect_geometry(g, "MultiPolygon")


def expect_geometry_collection(g: Column) -> Column:
    """to_geo_types.rs:113-130."""
    return expect_geometry(g, "GeometryCollection")


def feature_geometry(geometry: Column) -> Column:
    """C7 Feature → geometry: raises FeatureHasNoGeometry when the
    feature's geometry is absent (to_geo_types.rs:219-224 ``None =>
    Err(Error::FeatureHasNoGeometry)``); otherwise passes the struct
    through. Use as a filter column alongside the geometry itself."""

    @F.pandas_udf(BooleanType())
    def _check(gt: pd.Series) -> pd.Series:
        if gt.isna().any():
            raise FeatureHasNoGeometry()
        return pd.Series([True] * len(gt))

    return _check(geometry["geom_type"])


def _positions_slice(coords: Column, start, stop, dim) -> Column:
    """positions [start, stop) of a flat coords array (indices in
    position units) → array<array<double>>."""
    seq = F.when(stop > start, F.sequence(start + 1, stop)).otherwise(
        F.array().cast("array<bigint>")
    )
    return F.transform(seq, lambda i: F.slice(coords, (i - 1) * dim + 1, dim))


def positions(geometry: Column) -> Column:
    """All positions of a geometry in order, ignoring ring/part structure
    — array<array<double>> (create_geo_coordinate mapping,
    to_geo_types.rs:276-283)."""
    c = geometry["coords"]
    d = geometry["dim"]
    n = (F.size(c) / d).cast("long")
    return _positions_slice(c, F.lit(0).cast("long"), n, d)


def point_coords(geometry: Column) -> Column:
    """C7: Point → position array<double> (to_geo_types.rs:10-21)."""
    return geometry["coords"]


def multi_point_positions(geometry: Column) -> Column:
    """C7: MultiPoint → array of positions (to_geo_types.rs:25-44)."""
    return positions(geometry)


def line_string_positions(geometry: Column) -> Column:
    """C7: LineString → array of positions (to_geo_types.rs:46-60)."""
    return positions(geometry)


def polygon_rings(geometry: Column) -> Column:
    """C7: Polygon → array<ring>, each ring an array of positions
    (to_geo_types.rs:80-94; exterior first, then holes)."""
    c = geometry["coords"]
    d = geometry["dim"]
    ro = geometry["ring_offsets"]
    nrings = F.size(ro) - 1
    seq = F.when(nrings > 0, F.sequence(F.lit(1), nrings)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        seq,
        lambda r: _positions_slice(c, F.element_at(ro, r), F.element_at(ro, r + 1), d),
    )


def multi_line_string_lines(geometry: Column) -> Column:
    """C7: MultiLineString → array<line>, each line an array of positions
    (to_geo_types.rs:62-78). One ring per part by codec convention, so the
    ring decomposition IS the line decomposition."""
    return polygon_rings(geometry)


def multi_polygon_polygons(geometry: Column) -> Column:
    """C7: MultiPolygon → array<polygon>, each polygon an array of rings
    of positions (to_geo_types.rs:96-111)."""
    c = geometry["coords"]
    d = geometry["dim"]
    ro = geometry["ring_offsets"]
    po = geometry["part_offsets"]
    nparts = F.size(po) - 1
    pseq = F.when(nparts > 0, F.sequence(F.lit(1), nparts)).otherwise(
        F.array().cast("array<int>")
    )

    def rings_of_part(p):
        lo = F.element_at(po, p)
        hi = F.element_at(po, p + 1)
        rseq = F.when(hi > lo, F.sequence(lo + 1, hi)).otherwise(
            F.array().cast("array<bigint>")
        )
        return F.transform(
            rseq,
            lambda r: _positions_slice(
                c, F.element_at(ro, r.cast("int")), F.element_at(ro, r.cast("int") + 1), d
            ),
        )

    return F.transform(pseq, rings_of_part)


def point_x(geometry: Column) -> Column:
    return F.element_at(geometry["coords"], 1)


def point_y(geometry: Column) -> Column:
    return F.element_at(geometry["coords"], 2)


def geom_type(geometry: Column) -> Column:
    return geometry["geom_type"]
