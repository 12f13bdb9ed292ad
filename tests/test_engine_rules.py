"""Source-level rules of the engine package, checked on its syntax trees."""

import ast
import pathlib

_PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "geojson_spark"


def test_no_per_row_pandas_loops():
    """No per-row Python: the engine never walks a frame with
    ``.itertuples()`` or ``.iterrows()``."""
    found = []
    for path in sorted(_PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("itertuples", "iterrows")):
                found.append(f"{path.relative_to(_PACKAGE.parent)}:{node.lineno}")
    assert found == []


def test_no_rdd_hand_off():
    """Rows never leave the SQL engine for an RDD: an RDD action on a
    DataFrame (``foreachPartition``, ``foreach``, ``mapPartitions*``) or an
    ``.rdd.map``/``flatMap``/``filter`` pickles the rows into a second
    Python daemon and worker pool beside the SQL one. Asking
    ``.rdd.getNumPartitions()`` stays allowed."""
    found = []
    for path in sorted(_PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            attr, owner = node.func.attr, node.func.value
            on_rdd = isinstance(owner, ast.Attribute) and owner.attr == "rdd"
            if (attr in ("foreachPartition", "foreach") or attr.startswith("mapPartitions")
                    or (on_rdd and attr in ("map", "flatMap", "filter"))):
                found.append(f"{path.relative_to(_PACKAGE.parent)}:{node.lineno}")
    assert found == []
