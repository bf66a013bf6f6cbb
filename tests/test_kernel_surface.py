"""The batching decision stays in one module: every stateless per-row
Python kernel goes through ``sources.map_rows``, so a ``mapInPandas``
call anywhere else in ``xtract`` is a kernel that restates the Arrow
batch loop. The named exceptions batch their own way: the two
order-dependent folds in structure, merge_greedy's packed kernel and
fingerprints' numpy kernel."""
import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

OWN_BATCHING = {
    ("sources", "map_rows"),
    ("structure", "conv_windows"),
    ("structure", "window_assignments"),
    ("merge", "merge_greedy"),
    ("fingerprint", "fingerprints"),
}


def _map_in_pandas_callers(path):
    """(module, top-level function) of every ``.mapInPandas(`` call in
    one file; module-level calls report the function as None."""
    found = set()
    for top in ast.parse(path.read_text()).body:
        name = top.name if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "mapInPandas"
            ):
                found.add((path.stem, name))
    return found


def test_map_in_pandas_only_in_map_rows():
    found = set()
    for path in (ROOT / "xtract").glob("*.py"):
        found |= _map_in_pandas_callers(path)
    assert found == OWN_BATCHING
