"""Pure-Python GeoJSON codec: parse ↔ columnar geometry encoding ↔ serialize.

This is the fidelity core of the engine. It re-implements — from the RFC 7946
spec and the *behavior* of the reference (georust/geojson v1.0.0), not its
code — the parse/validate/serialize semantics documented in SURVEY.md §2:

- top-level dispatch on ``type`` (reference: src/geojson.rs:320-362)
- single-pass dimension-inferring coordinate parse (src/geometry.rs:362-486)
- the type × dimension validation table (src/geometry.rs:505-621), including
  every empty-coordinates special case and error variant
- feature id string|number union (src/feature.rs:244-249), ``id: null`` → None
- foreign-member capture on all three envelope levels, with empty-map
  normalization (src/util.rs:18-24)
- serialization key order and skip-if-none rules (src/feature.rs:63-96,
  src/geometry.rs:240-260, src/feature_collection.rs:87-104): ``properties``
  and ``geometry`` are always emitted on Features (null when absent), bbox /
  id / foreign members are skipped when absent; Geometry emits bbox *before*
  the flattened type tag, exactly like the serde field order.

The columnar geometry encoding is Arrow-friendly (flat float64 coords +
two offset arrays) so Spark-side operators work on NumPy buffers:

    geom_type     str   Point|MultiPoint|LineString|MultiLineString|
                        Polygon|MultiPolygon|GeometryCollection
    coords        list[float]  interleaved positions (x,y[,z,...])
    ring_offsets  list[int]    R+1 position-index boundaries (len>=1)
    part_offsets  list[int]    P+1 ring-index boundaries    (len>=1)
    dim           int          floats per position; -1 = ragged fallback
                               (mixed per-position dims: raw JSON kept)
    geoms_json    str|None     GeometryCollection: canonical JSON array of
                               child geometries; dim=-1: raw coordinates JSON
    bbox          list[float]|None
    foreign_members str|None   JSON object text

Shape conventions (uniform across types so one serializer handles all):
    Point          P=1 R=1 N=1
    MultiPoint     P=1 R=1 N=n          (empty: R offsets [0,0])
    LineString     P=1 R=1 N=n
    MultiLineString P=m, one ring per part (empty: [0] / [0])
    Polygon        P=1 R=r              (empty coords []: part_offsets [0,0])
    MultiPolygon   P=p                  (empty: [0] / [0])
"""

from __future__ import annotations

import json
import math
import re
from typing import Any

import numpy as np

from geojson_spark.errors import (
    ExpectedType,
    GeometryCollectionWithoutGeometriesKey,
    GeometryWithoutCoordinatesKey,
    InvalidFeatureId,
    InvalidGeometryDimensions,
    MalformedGeoJson,
    PositionTooShort,
)

GEOMETRY_TYPES = (
    "Point",
    "MultiPoint",
    "LineString",
    "MultiLineString",
    "Polygon",
    "MultiPolygon",
    "GeometryCollection",
)
# Reserved envelope keys; everything else is a foreign member
# (reference: src/lib.rs:264-266).
RESERVED_KEYS = frozenset(
    {"type", "coordinates", "geometries", "bbox", "features", "id", "geometry", "properties"}
)

_NUM = (int, float)


def _is_num(v: Any) -> bool:
    return isinstance(v, _NUM) and not isinstance(v, bool)


# ---------------------------------------------------------------------------
# coordinate analysis (single pass, reference src/geometry.rs:387-477)
# ---------------------------------------------------------------------------


def _coords_depth(c: Any) -> int:
    """Nesting depth of a coordinates value, classified from the FIRST
    element like the reference's untagged Coordinates deserializer
    (geometry.rs:382-485): 0 = position (non-empty list of numbers),
    ``[]`` is depth 1 (OneDimensional empty, :428-429), and an empty array
    nested inside wrappers still counts its own level — ``[[]]`` is depth
    2 (a list of one EMPTY ring), ``[[[]]]`` depth 3. Depth > 3 and
    non-list leaves raise, with messages matching the serde errors.
    """
    if not isinstance(c, list):
        raise MalformedGeoJson(f"expected array, got {_json_type_name(c)}")
    if len(c) == 0:
        return 1
    head = c[0]
    if _is_num(head):
        if not all(_is_num(v) for v in c):
            raise MalformedGeoJson("invalid position: mixed element types")
        return 0
    if isinstance(head, list):
        d = 1 + _coords_depth(head)
        if d > 3:
            raise MalformedGeoJson("coordinate nesting too deep")
        return d
    raise MalformedGeoJson(f"expected array, got {_json_type_name(head)}")


def _json_type_name(v: Any) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, _NUM):
        return "number"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        return "array"
    return "object"


def _validate_position(pos: Any) -> list[float]:
    if not isinstance(pos, list):
        raise MalformedGeoJson(f"expected array, got {_json_type_name(pos)}")
    out = []
    for v in pos:
        if not _is_num(v):
            raise MalformedGeoJson(f"expected number, got {_json_type_name(v)}")
        out.append(float(v))
    return out


def _flatten_rings(
    rings: list[list[Any]],
) -> tuple[list[float], list[int], int, bool]:
    """Flatten a list of rings (each a list of positions).

    Returns (coords, ring_offsets_tail, dim, uniform). ``uniform`` False means
    mixed per-position dimensionality → caller falls back to raw JSON.
    """
    coords: list[float] = []
    offsets: list[int] = []
    dim = 0
    uniform = True
    n = 0
    for ring in rings:
        if not isinstance(ring, list):
            raise MalformedGeoJson(f"expected array, got {_json_type_name(ring)}")
        for pos in ring:
            p = _validate_position(pos)
            if len(p) == 0:
                # an empty position (legal in the reference's Position
                # model outside Point) cannot share a dim with real ones;
                # route to the raw fallback rather than emitting offsets
                # that overcount coords
                uniform = False
            elif dim == 0:
                dim = len(p)
            elif len(p) != dim:
                uniform = False
            coords.extend(p)
            n += 1
        offsets.append(n)
    return coords, offsets, (dim if dim else 2), uniform


def _raw_fallback(geom_type: str, coordinates: Any, bbox, fm) -> dict:
    """Ragged (mixed-dim) coordinates: keep validated raw JSON, dim=-1."""
    return {
        "geom_type": geom_type,
        "coords": [],
        "ring_offsets": [0],
        "part_offsets": [0],
        "dim": -1,
        "geoms_json": _coords_json_text(coordinates),
        "bbox": bbox,
        "foreign_members": fm,
    }


def _coords_json_text(c: Any) -> str:
    """Coordinates JSON through the SAME float formatter as the uniform
    path (``_fmt_f``): ``json.dumps`` would print Python's `1e+16`/`1e-05`
    exponent text where serde's ryu prints `1e16`/`1e-5`, breaking the
    byte-exact serialize parity for ragged geometries."""
    if isinstance(c, list):
        return "[" + ",".join(_coords_json_text(v) for v in c) + "]"
    return _fmt_f(float(c))


# ---------------------------------------------------------------------------
# parse
# ---------------------------------------------------------------------------


def parse_geometry_obj(obj: Any) -> dict:
    """Parse + validate one geometry JSON object → columnar geometry dict.

    Implements the full validation table of reference src/geometry.rs:505-621.
    """
    if not isinstance(obj, dict):
        raise MalformedGeoJson(f"expected Geometry object, got {_json_type_name(obj)}")
    gtype = obj.get("type")
    if gtype not in GEOMETRY_TYPES:
        if gtype is None:
            raise MalformedGeoJson("missing field `type`")
        raise MalformedGeoJson(f"unknown geometry type `{gtype}`")

    bbox = _parse_bbox(obj.get("bbox"))
    fm = _foreign_members(obj, GEOMETRY_RESERVED)

    if gtype == "GeometryCollection":
        # serde deserializes an explicit null into Option::None, so
        # null and absent both hit the missing-key variant
        if obj.get("geometries") is None:
            raise GeometryCollectionWithoutGeometriesKey()
        geoms = obj["geometries"]
        if not isinstance(geoms, list):
            raise MalformedGeoJson(f"expected array, got {_json_type_name(geoms)}")
        children = [parse_geometry_obj(g) for g in geoms]
        geoms_json = "[" + ",".join(serialize_geometry(c) for c in children) + "]"
        return {
            "geom_type": gtype,
            "coords": [],
            "ring_offsets": [0],
            "part_offsets": [0],
            "dim": 0,
            "geoms_json": geoms_json,
            "bbox": bbox,
            "foreign_members": fm,
        }

    if obj.get("coordinates") is None:  # absent OR explicit null (Option)
        raise GeometryWithoutCoordinatesKey(gtype)
    c = obj["coordinates"]
    depth = _coords_depth(c)
    if obj.get("geometries") is not None:
        # a primitive type carrying a geometries key falls through the
        # reference's match to the invalid-combination arm
        # (geometry.rs:594-612): coordinates present → dimension error
        raise InvalidGeometryDimensions(gtype, depth)
    empty = isinstance(c, list) and len(c) == 0

    def build(coords, ring_offsets, part_offsets, dim, raw=None):
        return {
            "geom_type": gtype,
            "coords": coords,
            "ring_offsets": ring_offsets,
            "part_offsets": part_offsets,
            "dim": dim,
            "geoms_json": raw,
            "bbox": bbox,
            "foreign_members": fm,
        }

    if gtype == "Point":
        if empty:
            raise PositionTooShort(0)
        if depth != 0:
            raise InvalidGeometryDimensions(gtype, depth)
        p = _validate_position(c)
        if len(p) < 2:
            raise PositionTooShort(len(p))
        return build(p, [0, 1], [0, 1], len(p))

    if gtype in ("MultiPoint", "LineString"):
        if depth != 1:
            raise InvalidGeometryDimensions(gtype, depth)
        coords, tail, dim, uniform = _flatten_rings([c])
        if not uniform:
            return _raw_fallback(gtype, c, bbox, fm)
        return build(coords, [0] + tail, [0, 1], dim)

    if gtype in ("Polygon", "MultiLineString"):
        if empty:
            # Polygon/MultiLineString with coordinates: [] (geometry.rs:537-544,560-566)
            if gtype == "Polygon":
                return build([], [0], [0, 0], 2)
            return build([], [0], [0], 2)
        if depth != 2:
            raise InvalidGeometryDimensions(gtype, depth)
        coords, tail, dim, uniform = _flatten_rings(c)
        if not uniform:
            return _raw_fallback(gtype, c, bbox, fm)
        ring_offsets = [0] + tail
        if gtype == "Polygon":
            return build(coords, ring_offsets, [0, len(c)], dim)
        return build(coords, ring_offsets, list(range(len(c) + 1)), dim)

    # MultiPolygon
    if empty:
        return build([], [0], [0], 2)
    if depth != 3:
        raise InvalidGeometryDimensions(gtype, depth)
    coords: list[float] = []
    ring_offsets = [0]
    part_offsets = [0]
    dim = 0
    uniform = True
    n = 0
    for poly in c:
        if not isinstance(poly, list):
            raise MalformedGeoJson(f"expected array, got {_json_type_name(poly)}")
        sub, tail, d, u = _flatten_rings(poly)
        # only a polygon that PRODUCED positions can seed or contradict
        # the dim — an empty polygon's default d=2 must not demote a
        # uniform 3D MultiPolygon to the ragged fallback just because it
        # came first (the reference parses both orders identically)
        if sub and dim == 0:
            dim = d
        elif sub and d != dim:
            uniform = False
        uniform = uniform and u
        coords.extend(sub)
        for t in tail:
            ring_offsets.append(n + t)
        n += tail[-1] if tail else 0
        part_offsets.append(len(ring_offsets) - 1)
    if not uniform:
        return _raw_fallback("MultiPolygon", c, bbox, fm)
    return build(coords, ring_offsets, part_offsets, dim if dim else 2)


def _parse_bbox(b: Any) -> list[float] | None:
    if b is None:
        return None
    if not isinstance(b, list) or not all(_is_num(v) for v in b):
        raise MalformedGeoJson("bbox must be an array of numbers")
    return [float(v) for v in b]


GEOMETRY_RESERVED = frozenset({"type", "coordinates", "geometries", "bbox"})
FEATURE_RESERVED = frozenset({"type", "geometry", "properties", "id", "bbox"})
FC_RESERVED = frozenset({"type", "features", "bbox"})


def _foreign_members(obj: dict, reserved: frozenset = RESERVED_KEYS) -> str | None:
    """Capture non-reserved keys; empty map → None (util.rs:18-24). Each
    envelope reserves only ITS OWN fields (RawGeometry flattens e.g. an
    `id` key on a bare geometry into foreign members,
    geometry.rs:496-503)."""
    fm = {k: v for k, v in obj.items() if k not in reserved}
    if not fm:
        return None
    return dumps_json(fm)


def parse_feature_obj(obj: Any) -> dict:
    """Parse one Feature object (reference src/feature.rs:98-138)."""
    if not isinstance(obj, dict):
        raise MalformedGeoJson(f"expected Feature object, got {_json_type_name(obj)}")
    if obj.get("type") != "Feature":
        raise ExpectedType("Feature", str(obj.get("type")))

    g = obj.get("geometry")
    if g is None:
        geometry = None
    elif isinstance(g, dict):
        geometry = parse_geometry_obj(g)
    else:
        raise MalformedGeoJson(f"expected Geometry object, got {_json_type_name(g)}")

    raw_id = obj.get("id")
    if raw_id is None:
        id_json = None
    elif isinstance(raw_id, str):
        id_json = dumps_json(raw_id)
    elif _is_num(raw_id):
        id_json = dumps_json(raw_id)
    else:
        raise InvalidFeatureId()

    props = obj.get("properties")
    if props is None:
        properties = None
    elif isinstance(props, dict):
        properties = dumps_json(props)
    else:
        raise MalformedGeoJson(f"expected properties object, got {_json_type_name(props)}")

    return {
        "geometry": geometry,
        "bbox": _parse_bbox(obj.get("bbox")),
        "id_json": id_json,
        "properties": properties,
        "foreign_members": _foreign_members(obj, FEATURE_RESERVED),
    }


def parse_feature_collection_obj(obj: Any) -> dict:
    if not isinstance(obj, dict):
        raise MalformedGeoJson("expected FeatureCollection object")
    if obj.get("type") != "FeatureCollection":
        raise ExpectedType("FeatureCollection", str(obj.get("type")))
    if "features" not in obj:
        # reference: missing_field("features"), src/geojson.rs:327-337
        raise MalformedGeoJson("missing field `features`")
    feats = obj["features"]
    if feats is None:
        raise MalformedGeoJson("invalid type: null, expected a sequence")
    if not isinstance(feats, list):
        raise MalformedGeoJson(f"expected array, got {_json_type_name(feats)}")
    return {
        "features": [parse_feature_obj(f) for f in feats],
        "bbox": _parse_bbox(obj.get("bbox")),
        "foreign_members": _foreign_members(obj, FC_RESERVED),
    }


def _reject_constant(name: str):
    # serde_json rejects the non-standard NaN/Infinity literals Python's
    # json would otherwise accept (and which would then crash serialize)
    raise MalformedGeoJson(f"invalid number literal `{name}`")


# the stdlib C scanner with loads_json's strictness; its raw_decode parses
# one value at an offset, which is how a stream is split into values
STRICT_DECODER = json.JSONDecoder(parse_constant=_reject_constant)


def loads_json(s: str) -> Any:
    """json.loads with the reference's strictness: NaN/Infinity literals
    raise MalformedGeoJson instead of parsing to floats."""
    try:
        return json.loads(s, parse_constant=_reject_constant)
    except MalformedGeoJson:
        raise
    except json.JSONDecodeError as e:
        # json's message already embeds "line L column C"; expose the
        # position structurally too (reference parity: CHANGES.md:34-38)
        raise MalformedGeoJson(str(e), lineno=e.lineno, colno=e.colno) from e
    except (ValueError, TypeError) as e:
        raise MalformedGeoJson(str(e)) from e


def parse_geojson(s: str) -> tuple[str, dict]:
    """Whole-document parse + dispatch on ``type``.

    Reference: src/geojson.rs:215-221 (from_str) + 320-362 (dispatch).
    Returns ("Geometry"|"Feature"|"FeatureCollection", parsed-dict).
    """
    return parse_geojson_value(loads_json(s))


def parse_geojson_value(obj: Any) -> tuple[str, dict]:
    if not isinstance(obj, dict):
        raise MalformedGeoJson(
            f"invalid type: {_json_type_name(obj)}, expected a GeoJSON object"
        )
    t = obj.get("type")
    if t == "FeatureCollection":
        return "FeatureCollection", parse_feature_collection_obj(obj)
    if t == "Feature":
        return "Feature", parse_feature_obj(obj)
    if t in GEOMETRY_TYPES:
        return "Geometry", parse_geometry_obj(obj)
    if t is None:
        raise MalformedGeoJson("missing field `type`")
    raise MalformedGeoJson(f"unknown GeoJSON type `{t}`")


# ---------------------------------------------------------------------------
# serialize
# ---------------------------------------------------------------------------


def dumps_json(v: Any) -> str:
    """Compact JSON with shortest-round-trip float repr (≈ serde_json)."""
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False, allow_nan=False)


def _fmt_f(v: float) -> str:
    if v != v or math.isinf(v):
        raise MalformedGeoJson("non-finite coordinate")
    s = repr(float(v))
    if "e" in s:
        # serde_json's ryu prints `1e16` / `1e-5`; Python repr prints
        # `1e+16` / `1e-05` — normalize the exponent text
        mant, exp = s.split("e")
        s = f"{mant}e{int(exp)}"
    return s


def _positions_text(coords: list[float], dim: int, start: int, stop: int) -> str:
    """Render positions [start, stop) as '[x,y],[x,y]' text."""
    parts = []
    for i in range(start, stop):
        base = i * dim
        parts.append("[" + ",".join(_fmt_f(coords[base + k]) for k in range(dim)) + "]")
    return ",".join(parts)


def serialize_coordinates(g: dict) -> str:
    gtype = g["geom_type"]
    dim = g["dim"]
    if dim == -1:  # ragged fallback — validated raw JSON kept verbatim
        return g["geoms_json"]
    coords = g["coords"]
    ring_offsets = g["ring_offsets"]
    part_offsets = g["part_offsets"]

    if gtype == "Point":
        return "[" + ",".join(_fmt_f(coords[k]) for k in range(dim)) + "]"
    if gtype in ("MultiPoint", "LineString"):
        stop = ring_offsets[1] if len(ring_offsets) > 1 else 0
        return "[" + _positions_text(coords, dim, 0, stop) + "]"

    def ring_text(r: int) -> str:
        return "[" + _positions_text(coords, dim, ring_offsets[r], ring_offsets[r + 1]) + "]"

    if gtype == "Polygon":
        nrings = part_offsets[1] if len(part_offsets) > 1 else 0
        return "[" + ",".join(ring_text(r) for r in range(nrings)) + "]"
    if gtype == "MultiLineString":
        nparts = len(part_offsets) - 1
        return "[" + ",".join(ring_text(part_offsets[p]) for p in range(nparts)) + "]"
    # MultiPolygon
    nparts = len(part_offsets) - 1
    polys = []
    for p in range(nparts):
        polys.append(
            "[" + ",".join(ring_text(r) for r in range(part_offsets[p], part_offsets[p + 1])) + "]"
        )
    return "[" + ",".join(polys) + "]"


def _bbox_text(b: list[float]) -> str:
    return "[" + ",".join(_fmt_f(v) for v in b) + "]"


def _fm_tail(fm: str | None) -> str:
    """Foreign members rendered as ',"k":v,...' (or '')."""
    if fm is None:
        return ""
    inner = fm[1:-1]
    return "," + inner if inner else ""


def serialize_geometry(g: dict) -> str:
    """Geometry → compact JSON. Key order matches serde field order:
    bbox (if any), then the flattened type tag + coordinates/geometries,
    then foreign members (src/geometry.rs:240-260)."""
    parts = []
    if g.get("bbox") is not None:
        parts.append('"bbox":' + _bbox_text(g["bbox"]))
    parts.append('"type":' + dumps_json(g["geom_type"]))
    if g["geom_type"] == "GeometryCollection":
        parts.append('"geometries":' + (g["geoms_json"] or "[]"))
    else:
        parts.append('"coordinates":' + serialize_coordinates(g))
    body = ",".join(parts) + _fm_tail(g.get("foreign_members"))
    return "{" + body + "}"


def serialize_feature(f: dict) -> str:
    """Feature → compact JSON. Key order = serde tag + field order:
    type, bbox?, geometry (always), id?, properties (always, null if absent),
    foreign members (src/feature.rs:63-96, always-props rule 84-87)."""
    parts = ['"type":"Feature"']
    if f.get("bbox") is not None:
        parts.append('"bbox":' + _bbox_text(f["bbox"]))
    g = f.get("geometry")
    parts.append('"geometry":' + (serialize_geometry(g) if g is not None else "null"))
    if f.get("id_json") is not None:
        parts.append('"id":' + f["id_json"])
    props = f.get("properties")
    parts.append('"properties":' + (props if props is not None else "null"))
    return "{" + ",".join(parts) + _fm_tail(f.get("foreign_members")) + "}"


def serialize_feature_collection(fc: dict) -> str:
    parts = ['"type":"FeatureCollection"']
    if fc.get("bbox") is not None:
        parts.append('"bbox":' + _bbox_text(fc["bbox"]))
    parts.append(
        '"features":[' + ",".join(serialize_feature(f) for f in fc["features"]) + "]"
    )
    return "{" + ",".join(parts) + _fm_tail(fc.get("foreign_members")) + "}"


def serialize_geojson(kind: str, obj: dict) -> str:
    if kind == "Geometry":
        return serialize_geometry(obj)
    if kind == "Feature":
        return serialize_feature(obj)
    if kind == "FeatureCollection":
        return serialize_feature_collection(obj)
    raise ExpectedType("Geometry|Feature|FeatureCollection", kind)


# ---------------------------------------------------------------------------
# batch serialize: Arrow struct arrays → the same text, a sub-batch at a time
# ---------------------------------------------------------------------------

# Python's repr prints `1e+16` / `1e-05` where ryu prints `1e16` / `1e-5`
_EXPONENT = re.compile(r"e\+?(-?)0*(?=\d)")

# geometry kinds of the batch kernel; a type outside the table serializes
# its coordinates as a MultiPolygon, like ``serialize_coordinates``
_POINT, _LINE, _POLYGON, _MULTILINE, _MULTIPOLYGON, _COLLECTION, _RAGGED = range(7)
_KINDS = {"Point": _POINT, "MultiPoint": _LINE, "LineString": _LINE, "Polygon": _POLYGON,
          "MultiLineString": _MULTILINE, "GeometryCollection": _COLLECTION}
# The kernel walks every geometry as root → parts → rings → positions →
# floats. Per kind, which of those four container levels print brackets:
# a Polygon's one part, a LineString's one ring and a Point's root are
# implied and print nothing.
_PRINTED = np.array([[0, 0, 0, 1], [1, 0, 0, 1], [1, 0, 1, 1], [1, 0, 1, 1], [1, 1, 1, 1]])
# bracket depth of a leaf whose innermost container sits at level X
_DEPTH = np.cumsum(_PRINTED, axis=1)
# the text before a leaf: `c` closes, a separator and `o` opens; code
# 5c + o within a row, 25 + 5c + o where a new row starts
_GAPS = np.array([("]" * c) + sep + ("[" * o)
                  for sep in (",", "\n") for c in range(5) for o in range(5)], dtype=object)
# floats per sub-batch: bounds the kernel's index and text arrays
_BATCH_FLOATS = 1 << 18


def _fmt_floats(v: np.ndarray) -> list[str]:
    """``_fmt_f`` of every value of a float64 array in one C-speed pass: the repr of a list
    prints each float's shortest round-trip text, one regex then writes the
    exponents as ryu does."""
    if not np.isfinite(v).all():
        raise MalformedGeoJson("non-finite coordinate")
    if not v.size:
        return []
    return _EXPONENT.sub(r"e\1", repr(v.tolist())[1:-1]).split(", ")


def _expand(counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Parent and rank within the parent of each child, for ``counts[k]``
    children of parent ``k``."""
    parent = np.repeat(np.arange(counts.size), counts)
    first = np.cumsum(counts) - counts
    return parent, np.arange(parent.size) - first[parent]


def _fields(arr) -> dict:
    """The children of a struct array, with its slice and nulls applied."""
    return {f.name: col for f, col in zip(arr.type, arr.flatten())}


def _strings(col, n: int) -> list:
    # via NumPy: ``to_pylist`` builds an Arrow scalar per row, ~7x slower
    return [None] * n if col is None else col.to_numpy(zero_copy_only=False).tolist()


def _lists(col, n: int, null_len: int = 0, dtype=np.float64):
    """A list column as ``(values, starts, lens, valid)``: row k holds
    ``values[starts[k]:starts[k] + lens[k]]``. A null or absent list counts
    ``null_len`` elements (the row serializer's `[0]` default of an offsets
    array), which the kernel never reads. ``values`` ends in one padding
    element, which index -1 reads."""
    if col is None:
        return (np.zeros(1, dtype), np.zeros(n, np.int64), np.full(n, null_len, np.int64),
                np.zeros(n, bool))
    valid = col.is_valid().to_numpy(zero_copy_only=False)
    offs = col.offsets.to_numpy().astype(np.int64)
    # ``values`` is the whole child of a sliced array: keep this slice's part
    child = col.values.slice(offs[0], offs[-1] - offs[0])
    offs -= offs[0]
    if np.issubdtype(dtype, np.integer):
        child = child.fill_null(-1)  # a null offset reads as out of range
    values = np.append(child.to_numpy(zero_copy_only=False).astype(dtype), dtype(0))
    return values, offs[:-1], np.where(valid, np.diff(offs), null_len), valid


def _take(lists, rows: np.ndarray, j: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Element ``j`` of each row's list (0 where out of range) and whether
    it was in range."""
    values, starts, lens, _ = lists
    ok = (j >= 0) & (j < lens[rows])
    return values[np.where(ok, starts[rows] + j, -1)], ok


def _children(counts: np.ndarray, empty: np.ndarray, level: int):
    """Expand containers into their children: ``(parent, rank, empty)``.
    A container with no children, or a placeholder, gets one placeholder
    child, whose ``empty`` is the level of the empty container it stands
    for (-1 for a real child)."""
    counts = np.where(empty < 0, np.maximum(counts, 0), 0)
    parent, rank = _expand(np.maximum(counts, 1))
    own = np.where(counts[parent] == 0, level, -1)
    return parent, rank, np.where(empty[parent] >= 0, empty[parent], own)


def _coordinates_texts(kind, dim, coords, ring_offsets, part_offsets) -> list[str]:
    """``serialize_coordinates`` of each row (kinds _POINT.._MULTIPOLYGON).

    Every container gets at least one leaf: a float, or for an empty
    container one placeholder that prints nothing, so the container prints
    `[]`. The text before a leaf then follows from the bracket depths of
    the leaf and its predecessor and the printed containers they share:
    that many closes, a comma, that many opens."""
    po_len = part_offsets[2]
    # parts: a MultiPolygon has len(part_offsets) - 1, other kinds one
    nparts = np.where(kind == _MULTIPOLYGON, po_len - 1, 1)
    p_row, p_rank, p_empty = _children(nparts, np.full(kind.size, -1), 0)
    # rings of each part, as indexes into ring_offsets
    pk = kind[p_row]
    lo, _ = _take(part_offsets, p_row, p_rank)
    hi, _ = _take(part_offsets, p_row, p_rank + 1)
    po1, _ = _take(part_offsets, p_row, np.ones_like(p_row))
    nrings = np.select([pk == _MULTIPOLYGON, pk == _POLYGON, pk == _MULTILINE],
                       [hi - lo, po1, po_len[p_row] - 1], 1)
    r_part, r_rank, r_empty = _children(nrings, p_empty, 1)
    r_row = p_row[r_part]
    rk = kind[r_row]
    line_of, _ = _take(part_offsets, r_row, r_rank)
    ring = np.where(rk == _MULTILINE, line_of, np.where(rk == _MULTIPOLYGON, lo[r_part], 0) + r_rank)
    # positions of each ring; a LineString/MultiPoint's one ring runs
    # 0 .. ring_offsets[1], a Point's holds one position
    listed = (r_empty < 0) & (rk >= _POLYGON)
    start, ok_lo = _take(ring_offsets, r_row, ring)
    stop, ok_hi = _take(ring_offsets, r_row, ring + 1)
    if (listed & ~(ok_lo & ok_hi)).any():
        raise MalformedGeoJson("geometry ring index outside its ring_offsets")
    line_stop, _ = _take(ring_offsets, r_row, np.ones_like(r_row))
    start = np.where(listed, start, 0)
    npos = np.select([listed, rk == _LINE, rk == _POINT], [stop - start, line_stop, 1], 0)
    q_ring, q_rank, q_empty = _children(npos, r_empty, 2)
    q_row = r_row[q_ring]
    # floats of each position
    f_pos, f_rank, f_empty = _children(dim[q_row], q_empty, 3)
    f_row = q_row[f_pos]
    leaf = f_empty < 0
    values, cstart, clen, _ = coords
    at = (start[q_ring] + q_rank)[f_pos] * dim[f_row] + f_rank
    if (leaf & ((at < 0) | (at >= clen[f_row]))).any():
        raise MalformedGeoJson("geometry offsets point past its coordinates")
    texts = np.full(f_row.size, "", dtype=object)
    texts[leaf] = _fmt_floats(values[cstart[f_row[leaf]] + at[leaf]])
    if not f_row.size:
        return []
    # the text before each leaf
    fk = kind[f_row]
    depth = _DEPTH[fk, np.where(leaf, 3, f_empty)]
    prev_depth = np.r_[0, depth[:-1]]
    same = np.stack([f_row, r_part[q_ring][f_pos], q_ring[f_pos], f_pos], axis=1)
    shared = np.r_[0, ((same[1:] == same[:-1]) * _PRINTED[fk[1:]]).sum(axis=1)]
    new_row = np.r_[True, f_row[1:] != f_row[:-1]]
    code = np.where(new_row, 25 + 5 * prev_depth + depth, 5 * (prev_depth - shared) + depth - shared)
    tokens = np.empty(2 * f_row.size, dtype=object)
    tokens[0::2] = _GAPS[code]
    tokens[1::2] = texts
    return ("".join(tokens.tolist()) + "]" * int(depth[-1])).split("\n")[1:]


def _subset(lists, sel: np.ndarray):
    values, starts, lens, valid = lists
    return values, starts[sel], lens[sel], valid[sel]


def _bbox_texts(col, n: int) -> list:
    """``_bbox_text`` of each row, None where the bbox is null."""
    out = [None] * n
    if col is None:
        return out
    values, starts, lens, valid = _lists(col, n)
    rows = np.flatnonzero(valid)
    if not rows.size:
        return out
    parent, rank = _expand(lens[rows])
    texts = _fmt_floats(values[starts[rows][parent] + rank])
    ends = np.cumsum(lens[rows]).tolist()
    for i, a, b in zip(rows.tolist(), [0] + ends[:-1], ends):
        out[i] = "[" + ",".join(texts[a:b]) + "]"
    return out


def _geometry_texts(geom) -> list:
    """``serialize_geometry`` of each row of a geometry struct array, None
    where the geometry or its ``geom_type`` is null."""
    n = len(geom)
    f = _fields(geom)
    types = _strings(f.get("geom_type"), n)
    raw = _strings(f.get("geoms_json"), n)
    fms = _strings(f.get("foreign_members"), n)
    bboxes = _bbox_texts(f.get("bbox"), n)
    dim = (np.full(n, 2, np.int64) if f.get("dim") is None
           else f["dim"].fill_null(2).to_numpy().astype(np.int64))
    kind = np.array([-1 if t is None else _KINDS.get(t, _MULTIPOLYGON) for t in types], np.int64)
    kind[(dim == -1) & (kind >= 0) & (kind != _COLLECTION)] = _RAGGED
    sel = np.flatnonzero((kind >= 0) & (kind <= _MULTIPOLYGON))
    coords = [None] * n
    texts = _coordinates_texts(
        kind[sel], dim[sel],
        _subset(_lists(f.get("coords"), n), sel),
        _subset(_lists(f.get("ring_offsets"), n, 1, np.int64), sel),
        _subset(_lists(f.get("part_offsets"), n, 1, np.int64), sel))
    for i, t in zip(sel.tolist(), texts):
        coords[i] = t
    type_json = {t: dumps_json(t) for t in set(types) if t is not None}
    out = [None] * n
    for i, (k, t, c, r, bb, fm) in enumerate(zip(kind.tolist(), types, coords, raw, bboxes, fms)):
        if k < 0:
            continue
        if k == _COLLECTION:
            body = '"geometries":' + (r or "[]")
        elif k == _RAGGED:
            if r is None:
                raise MalformedGeoJson("ragged geometry without its coordinates text")
            body = '"coordinates":' + r
        else:
            body = '"coordinates":' + c
        out[i] = ("{" + ("" if bb is None else '"bbox":' + bb + ",") + '"type":' + type_json[t] + ","
                  + body + _fm_tail(fm) + "}")
    return out


def _feature_texts(features) -> list[str]:
    n = len(features)
    f = _fields(features)
    geoms = [None] * n if f.get("geometry") is None else _geometry_texts(f["geometry"])
    return [
        '{"type":"Feature"' + ("" if b is None else ',"bbox":' + b)
        + ',"geometry":' + ("null" if g is None else g)
        + ("" if i is None else ',"id":' + i)
        + ',"properties":' + ("null" if p is None else p) + _fm_tail(fm) + "}"
        for b, g, i, p, fm in zip(_bbox_texts(f.get("bbox"), n), geoms,
                                  _strings(f.get("id_json"), n), _strings(f.get("properties"), n),
                                  _strings(f.get("foreign_members"), n))
    ]


def _sub_batches(arr, coords):
    """Consecutive slices of ``arr`` holding at most ``_BATCH_FLOATS`` of
    the ``coords`` list column's floats; a longer row is a slice of its own."""
    n = len(arr)
    if coords is None:
        yield arr
        return
    offs = coords.offsets.to_numpy()
    a = 0
    while a < n:
        b = int(np.searchsorted(offs, offs[a] + _BATCH_FLOATS, side="right")) - 1
        b = min(max(b, a + 1), n)
        yield arr.slice(a, b - a)
        a = b


def serialize_geometries_batch(geometries) -> list:
    """``serialize_geometry`` of every row of a ``GEOMETRY_STRUCT`` Arrow
    struct array, byte for byte, with the row path's defaults for null
    sub-fields (coords `[]`, offsets `[0]`, dim 2); None where the
    geometry or its ``geom_type`` is null."""
    coords = _fields(geometries).get("coords")
    return [t for sub in _sub_batches(geometries, coords) for t in _geometry_texts(sub)]


def serialize_features_batch(features) -> list[str]:
    """``serialize_feature`` of every row of a ``FEATURE_SCHEMA`` Arrow
    struct array, byte for byte (an absent field reads as null).

    One pass per sub-batch of ~``_BATCH_FLOATS`` coordinates: every float
    is checked with ``np.isfinite`` and formatted by one list repr, the
    brackets and separators come from the offsets with NumPy, and the
    coordinates of the whole sub-batch are one join."""
    geom = _fields(features).get("geometry")
    coords = None if geom is None else _fields(geom).get("coords")
    return [t for sub in _sub_batches(features, coords) for t in _feature_texts(sub)]


def serialize_geojson_pretty(kind: str, obj: dict, indent: int = 2) -> str:
    """Pretty print (S2 — GeoJson::to_string_pretty, src/geojson.rs:178-184).

    Re-indents the compact form with a TOKEN-LEVEL lexer — scalars are
    never reparsed, so the numeric text is byte-identical to the compact
    serializer's (a loads→dumps round-trip re-rendered `1e16` as Python's
    `1e+16`, breaking the parity this function claims). Key order is
    preserved trivially: the compact text is rewritten in place.
    """
    return _indent_json(serialize_geojson(kind, obj), indent)


def _indent_json(s: str, indent: int) -> str:
    """Re-indent compact JSON (no whitespace between tokens) in the
    ``json.dumps(indent=N)`` style, copying every scalar byte verbatim."""
    out: list[str] = []
    depth = 0
    in_str = esc = False
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if in_str:
            out.append(ch)
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == '"':
                in_str = False
        elif ch == '"':
            in_str = True
            out.append(ch)
        elif ch in "{[":
            if i + 1 < n and s[i + 1] in "}]":  # empty container: {} / []
                out.append(ch)
                out.append(s[i + 1])
                i += 1
            else:
                depth += 1
                out.append(ch)
                out.append("\n" + " " * (indent * depth))
        elif ch in "}]":
            depth -= 1
            out.append("\n" + " " * (indent * depth))
            out.append(ch)
        elif ch == ",":
            out.append(",")
            out.append("\n" + " " * (indent * depth))
        elif ch == ":":
            out.append(": ")
        else:
            out.append(ch)
        i += 1
    return "".join(out)


# ---------------------------------------------------------------------------
# C9 — fallible GeoJson → {Geometry, Feature, FeatureCollection}
# (src/geojson.rs:118-167: TryFrom with ExpectedType on the wrong variant)
# ---------------------------------------------------------------------------


def geojson_to_geometry(kind: str, obj: dict) -> dict:
    """TryFrom<GeoJson> for Geometry (src/geojson.rs:118-133)."""
    if kind == "Geometry":
        return obj
    raise ExpectedType("Geometry", kind)


def geojson_to_feature(kind: str, obj: dict) -> dict:
    """TryFrom<GeoJson> for Feature (src/geojson.rs:135-150)."""
    if kind == "Feature":
        return obj
    raise ExpectedType("Feature", kind)


def geojson_to_feature_collection(kind: str, obj: dict) -> dict:
    """TryFrom<GeoJson> for FeatureCollection (src/geojson.rs:152-167)."""
    if kind == "FeatureCollection":
        return obj
    raise ExpectedType("FeatureCollection", kind)
