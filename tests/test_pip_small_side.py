"""pip_join's two paths: the driver-planned small side (exact covers, no
probe job, geometry shipped once as an edge table) and the large side
(sampled probe, coords on every cover row), and the segmented ray cast
both of them refine with."""

from __future__ import annotations

import datetime
from collections import Counter
from unittest import mock

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geojson_spark.functions.geometry import points_in_polygon
from geojson_spark.operators import joins as joins_mod
from geojson_spark.operators.joins import _edge_table, _ray_cast, pip_join

POLY_SCHEMA = ("poly_id string, coords array<double>, ring_offsets array<int>, "
               "dim int, bbox array<double>")


def _ring(x0, y0, x1, y1):
    return [x0, y0, x1, y0, x1, y1, x0, y1, x0, y0]


def _square(poly_id, x0, y0, size):
    return {"poly_id": poly_id, "coords": _ring(x0, y0, x0 + size, y0 + size),
            "ring_offsets": [0, 5], "dim": 2, "bbox": [x0, y0, x0 + size, y0 + size]}


def _squares(n):
    return [_square(f"p{j}", (j % 64) * 2.0 - 64.0, (j // 64) * 2.0 - 64.0, 0.5) for j in range(n)]


def _job_ids(sc):
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup())


def _nodes(plan):
    """Physical plan nodes, through AQE's wrapper."""
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        yield from _nodes(plan.executedPlan())
        return
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def _names(node):
    out = node.output()
    return {out.apply(i).name() for i in range(out.size())}


# ---------------------------------------------------------------------------
# points columns pip_join uses internally
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("index", ["grid", "s2"])
@pytest.mark.parametrize("col", ["cell_id", "_leaf", "_gy", "_gy0", "_gy1", "_pip_idx",
                                 "poly_id", "coords", "ring_offsets", "dim", "Cell_ID"])
def test_pip_join_rejects_clashing_point_column(spark, index, col):
    # a points column named like an internal one used to be overwritten
    # (cell_id, _leaf) and dropped, or to break the join later
    polys = spark.createDataFrame(pd.DataFrame([_square("a", 0.0, 0.0, 1.0)]), POLY_SCHEMA)
    pts = spark.createDataFrame(pd.DataFrame({"lon": [0.5], "lat": [0.5], col: [7]}))
    with pytest.raises(ValueError, match=col):
        pip_join(pts, polys, index=index)


# ---------------------------------------------------------------------------
# plan shape
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("index,n_python", [("grid", 1), ("s2", 2)])
def test_pip_small_side_plans_on_driver(spark, index, n_python):
    polys = spark.createDataFrame(
        pd.DataFrame([_square("a", 0.0, 0.0, 1.0), _square("b", 0.5, 0.5, 1.0)]), POLY_SCHEMA)
    pts = spark.createDataFrame(pd.DataFrame(
        {"p": [1, 2, 3, 4], "lon": [0.25, 0.75, 1.25, 5.0], "lat": [0.25, 0.75, 1.25, 5.0]}))
    before = _job_ids(spark.sparkContext)
    joined = pip_join(pts, polys, index=index)
    assert _job_ids(spark.sparkContext) == before  # no count or stats probe

    plan = joined._jdf.queryExecution().executedPlan()
    nodes = list(_nodes(plan))
    kinds = [n.getClass().getSimpleName() for n in nodes]
    # grid: the refine only; s2: the point leaf and the refine
    assert sum(k in ("ArrowEvalPythonExec", "BatchEvalPythonExec") for k in kinds) == n_python
    builds = [n for n, k in zip(nodes, kinds) if k == "BroadcastExchangeExec"]
    assert builds
    for build in builds:  # cell keys and the poly ids; grid: the row range
        assert ({"cell_id", "_pip_idx", "poly_id"} <= _names(build)
                <= {"cell_id", "_pip_idx", "poly_id", "_gy0", "_gy1"})
    assert sorted(map(tuple, joined.select("p", "poly_id").collect())) == [
        (1, "a"), (2, "a"), (2, "b"), (3, "b")]


@pytest.mark.parametrize("ddl,value", [("string", "a"), ("bigint", 2**40), ("boolean", True),
                                       ("double", 0.1), ("date", datetime.date(2020, 1, 2))])
def test_pip_small_side_keeps_poly_id_type(spark, ddl, value):
    # poly_id rides on the driver-built cover frame with the side's own type
    row = dict(_square(value, 0.0, 0.0, 1.0))
    polys = spark.createDataFrame([row], POLY_SCHEMA.replace("poly_id string", f"poly_id {ddl}"))
    pts = spark.createDataFrame(pd.DataFrame({"p": [1], "lon": [0.5], "lat": [0.5]}))
    joined = pip_join(pts, polys)
    assert joined.schema["poly_id"].dataType == polys.schema["poly_id"].dataType
    assert [tuple(r) for r in joined.collect()] == [(1, 0.5, 0.5, value)]


@pytest.mark.parametrize("n", [3000, 4096])
def test_pip_large_side_keeps_sampled_probe(spark, monkeypatch, n):
    polys = spark.createDataFrame(pd.DataFrame(_squares(n)), POLY_SCHEMA)
    pts = spark.createDataFrame(pd.DataFrame({"p": [1], "lon": [-63.75], "lat": [-63.75]}))
    calls = []
    probe = joins_mod._broadcast_probe
    monkeypatch.setattr(joins_mod, "_broadcast_probe", lambda *a: calls.append(a) or probe(*a))
    joined = pip_join(pts, polys)
    assert len(calls) == 1
    assert [r.poly_id for r in joined.collect()] == ["p0"]


def test_pip_small_side_never_probes(spark, monkeypatch):
    polys = spark.createDataFrame(pd.DataFrame(_squares(2048)), POLY_SCHEMA)
    pts = spark.createDataFrame(pd.DataFrame({"p": [1], "lon": [-63.75], "lat": [-63.75]}))
    monkeypatch.setattr(joins_mod, "_broadcast_probe", mock.Mock(side_effect=AssertionError))
    assert [r.poly_id for r in pip_join(pts, polys).collect()] == ["p0"]


def _circle(cx, cy, r, n_verts):
    theta = np.linspace(0.0, 2 * np.pi, n_verts, endpoint=False)
    ring = np.column_stack([cx + r * np.cos(theta), cy + r * np.sin(theta)])
    return np.vstack([ring, ring[:1]]).ravel()


def test_pip_fat_small_side_never_collects_coords(spark, monkeypatch):
    # under the row bound but over the coords budget: only the coords
    # sizes reach the driver, and the side takes the sampled probe
    rows = [{"poly_id": f"fat{i}", "coords": _circle(0.5 + i, 0.5 + i, 0.4, 200).tolist(),
             "ring_offsets": [0, 201], "dim": 2, "bbox": [0.1 + i, 0.1 + i, 0.9 + i, 0.9 + i]}
            for i in range(4)]  # 3,216 coords bytes each
    polys = spark.createDataFrame(pd.DataFrame(rows), POLY_SCHEMA)
    pts = spark.createDataFrame(pd.DataFrame({"p": [1, 2], "lon": [0.5, 2.5], "lat": [0.5, 2.5]}))
    cls = type(polys)
    collected, probes = [], []
    collect, probe = cls.collect, joins_mod._broadcast_probe

    def recording(self):
        collected.append(self.columns)
        return collect(self)

    monkeypatch.setattr(cls, "collect", recording)
    monkeypatch.setattr(joins_mod, "_broadcast_probe", lambda *a: probes.append(a) or probe(*a))
    monkeypatch.setattr(joins_mod, "_PIP_EXACT_BYTES", 4 * 3216 - 1)
    joined = pip_join(pts, polys)
    assert collected and not any("coords" in cols for cols in collected)
    assert len(probes) == 1
    monkeypatch.undo()
    assert sorted(map(tuple, joined.select("p", "poly_id").collect())) == [(1, "fat0"), (2, "fat2")]


def test_refine_rows_bounds_each_edge_table(spark, monkeypatch):
    # many candidates of one large polygon in one batch: the large-side
    # refine builds one bounded slice's edge table at a time, never one
    # per row of the batch, and stays exact
    big = _circle(0.0, 0.0, 1.0, 5000)
    square = np.asarray(_ring(-0.5, -0.5, 0.5, 0.5), dtype=np.float64)
    rng = np.random.default_rng(3)
    n = 400
    kinds = rng.integers(0, 3, n)  # big, square, null coords
    coords = np.array([big.copy() if k == 0 else square.copy() if k == 1 else None for k in kinds],
                      dtype=object)
    ro = np.array([np.array([0, 5001 if k == 0 else 5]) for k in kinds], dtype=object)
    dims = np.full(n, 2)
    px, py = rng.uniform(-1.1, 1.1, n), rng.uniform(-1.1, 1.1, n)
    want = np.array([c is not None and bool(points_in_polygon(px[i:i + 1], py[i:i + 1], c, r, 2)[0])
                     for i, (c, r) in enumerate(zip(coords, ro))])
    built = []
    edge_table = joins_mod._edge_table

    def recording(cs, rs, ds):
        built.append((len(cs), sum(0 if c is None else len(c) for c in cs)))
        return edge_table(cs, rs, ds)

    monkeypatch.setattr(joins_mod, "_edge_table", recording)
    for chunk in (100, 10_003, 40_000, 1 << 20):  # 100: every big row alone
        built.clear()
        np.testing.assert_array_equal(
            joins_mod._refine_rows(px, py, coords, ro, dims, chunk), want)
        assert sum(rows for rows, _ in built) == n
        assert all(rows == 1 or size <= chunk for rows, size in built)
    monkeypatch.undo()
    # ... and the same through Spark's large-side path, in one Arrow batch
    polys = spark.createDataFrame(pd.DataFrame([
        {"poly_id": "big", "coords": big.tolist(), "ring_offsets": [0, 5001], "dim": 2,
         "bbox": [-1.0, -1.0, 1.0, 1.0]}]), POLY_SCHEMA)
    pts = spark.createDataFrame(pd.DataFrame({"p": np.arange(n), "lon": px, "lat": py}))
    with mock.patch.object(joins_mod, "_PIP_EXACT_ROWS", 0):
        got = sorted(r.p for r in pip_join(pts, polys, broadcast_polygons=False).collect())
    inside = points_in_polygon(px, py, big, np.array([0, 5001]), 2)
    assert got == np.flatnonzero(inside).tolist()


# ---------------------------------------------------------------------------
# equivalence of the two paths
# ---------------------------------------------------------------------------

_rects = st.lists(
    st.tuples(
        st.floats(-179.0, 170.0), st.floats(-80.0, 70.0),  # corner
        st.floats(0.05, 9.0), st.floats(0.05, 9.0),  # size
        st.booleans(),  # hole
        st.sampled_from([2, 3]),  # dim
        st.integers(0, 3),  # poly_id: duplicates on purpose
    ),
    min_size=1, max_size=12,
)


def _side(rects):
    rows = []
    for x0, y0, w, h, hole, dim, pid in rects:
        x1, y1 = x0 + w, y0 + h
        coords, ro = _ring(x0, y0, x1, y1), [0, 5]
        if hole:
            coords += _ring(x0 + w / 4, y0 + h / 4, x1 - w / 4, y1 - h / 4)
            ro.append(10)
        if dim == 3:
            xy = np.asarray(coords).reshape(-1, 2)
            coords = np.column_stack([xy, np.full(len(xy), 9.0)]).ravel().tolist()
        rows.append({"poly_id": f"p{pid}", "coords": coords, "ring_offsets": ro, "dim": dim,
                     "bbox": [x0, y0, x1, y1]})
    good = _ring(-1.0, -1.0, 1.0, 1.0)
    rows += [
        {"poly_id": "null_bbox", "coords": good, "ring_offsets": [0, 5], "dim": 2, "bbox": None},
        {"poly_id": "null_coords", "coords": None, "ring_offsets": [0, 5], "dim": 2,
         "bbox": [-1.0, -1.0, 1.0, 1.0]},
        {"poly_id": "empty_coords", "coords": [], "ring_offsets": [0], "dim": 2,
         "bbox": [-1.0, -1.0, 1.0, 1.0]},
        {"poly_id": "east_edge", "coords": _ring(175.0, 10.0, 180.0, 15.0), "ring_offsets": [0, 5],
         "dim": 2, "bbox": [175.0, 10.0, 180.0, 15.0]},
        {"poly_id": "west_edge", "coords": _ring(-180.0, 10.0, -175.0, 15.0),
         "ring_offsets": [0, 5], "dim": 2, "bbox": [-180.0, 10.0, -175.0, 15.0]},
    ]
    return rows


@settings(max_examples=6, deadline=None)
@given(rects=_rects, seed=st.integers(0, 2**32 - 1), index=st.sampled_from(["grid", "s2"]))
def test_pip_small_and_large_side_paths_agree(spark, rects, seed, index):
    rows = _side(rects)
    rng = np.random.default_rng(seed)
    # points inside every bbox, plus a world-wide scatter and the ±180 edges
    boxes = np.array([r["bbox"] for r in rows if r["bbox"] is not None])
    pick = boxes[rng.integers(0, len(boxes), 300)]
    lon = np.concatenate([rng.uniform(pick[:, 0], pick[:, 2]), rng.uniform(-180, 180, 100),
                          [180.0, -180.0, 179.999, -179.999]])
    lat = np.concatenate([rng.uniform(pick[:, 1], pick[:, 3]), rng.uniform(-90, 90, 100),
                          [12.5, 12.5, 12.5, 12.5]])
    pts = spark.createDataFrame(pd.DataFrame({"p": np.arange(len(lon)), "lon": lon, "lat": lat}))
    polys = spark.createDataFrame(pd.DataFrame(rows), POLY_SCHEMA)

    small = pip_join(pts, polys, index=index)
    with mock.patch.object(joins_mod, "_PIP_EXACT_ROWS", 0):
        large = pip_join(pts, polys, index=index, broadcast_polygons=False)
    assert "_pip_idx" in small._jdf.queryExecution().analyzed().toString()
    assert "_pip_idx" not in large._jdf.queryExecution().analyzed().toString()
    got = Counter(map(tuple, small.select("p", "poly_id").collect()))
    assert got == Counter(map(tuple, large.select("p", "poly_id").collect()))
    # ... and both equal brute force over every polygon row
    want = Counter()
    for r in rows:
        if r["bbox"] is None or not r["coords"]:
            continue
        inside = points_in_polygon(lon, lat, np.asarray(r["coords"]),
                                   np.asarray(r["ring_offsets"]), r["dim"])
        want.update((int(p), r["poly_id"]) for p in np.flatnonzero(inside))
    assert got == want


def test_pip_grid_paths_agree_beyond_packed_cpd(spark):
    # grid keys are cell columns, not gx·4096 + gy ids: a cpd past the
    # packing's limit of 22 runs, and answers the same, on both paths
    polys = spark.createDataFrame(pd.DataFrame([_square("a", 0.0, 0.0, 1.0),
                                                _square("b", 100.0, 60.0, 0.25)]), POLY_SCHEMA)
    pts = spark.createDataFrame(pd.DataFrame({"p": [1, 2, 3, 4], "lon": [0.5, 1.5, 100.1, 100.3],
                                              "lat": [0.5, 0.5, 60.1, 60.1]}))
    small = pip_join(pts, polys, cpd=32)
    with mock.patch.object(joins_mod, "_PIP_EXACT_ROWS", 0):
        large = pip_join(pts, polys, cpd=32, broadcast_polygons=False)
    for joined in (small, large):
        assert sorted(map(tuple, joined.select("p", "poly_id").collect())) == [(1, "a"), (3, "b")]


# ---------------------------------------------------------------------------
# the segmented kernel
# ---------------------------------------------------------------------------

_polygon = st.tuples(
    st.sampled_from([2, 3]),
    st.lists(  # rings: vertex lists, some closed, some degenerate
        st.tuples(st.lists(st.tuples(st.integers(-4, 4), st.integers(-4, 4)), min_size=0,
                           max_size=7), st.booleans()),
        min_size=0, max_size=3,
    ),
)


@settings(max_examples=150, deadline=None)
@given(polys=st.lists(_polygon, min_size=1, max_size=6), seed=st.integers(0, 2**32 - 1))
def test_ray_cast_bit_identical_to_points_in_polygon(polys, seed):
    coords, offsets, dims = [], [], []
    for dim, rings in polys:
        flat, ro = [], [0]
        for verts, closed in rings:
            verts = verts + verts[:1] if closed else verts
            for x, y in verts:
                flat += [x * 0.5, y * 0.5] + [1.0] * (dim - 2)
            ro.append(ro[-1] + len(verts))
        coords.append(np.asarray(flat, dtype=np.float64))
        offsets.append(np.asarray(ro, dtype=np.int64))
        dims.append(dim)
    rng = np.random.default_rng(seed)
    n = 200
    poly = rng.integers(0, len(polys), n)
    # a lattice that hits vertices and edges exactly, plus random points
    px = np.where(rng.random(n) < 0.5, rng.integers(-9, 10, n) * 0.25, rng.uniform(-2.5, 2.5, n))
    py = np.where(rng.random(n) < 0.5, rng.integers(-9, 10, n) * 0.25, rng.uniform(-2.5, 2.5, n))
    want = np.zeros(n, dtype=bool)
    for j in range(len(polys)):
        m = poly == j
        if coords[j].size:
            want[m] = points_in_polygon(px[m], py[m], coords[j], offsets[j], dims[j])
    table = _edge_table(coords, offsets, dims)
    for chunk in (1, 2, 3, 7, 64, 1 << 20):
        np.testing.assert_array_equal(_ray_cast(px, py, poly, table, chunk), want)
