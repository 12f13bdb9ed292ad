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
