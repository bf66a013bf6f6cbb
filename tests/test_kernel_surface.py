"""The library's surface stays small and deliberate.

The batching decision stays in one module: every stateless per-row
Python kernel goes through ``sources.map_rows``, so a ``mapInPandas``
call anywhere else in ``xtract`` is a kernel that restates the Arrow
batch loop. The named exceptions batch their own way: the
order-dependent fold structure.conv_windows and fingerprints' numpy
kernel. A scalar ``pandas_udf`` is the same
per-row loop by other means; only detect's two detectors, which run
behind an ``rlike`` prefilter inside an expression, are one.

The settable values of the public functions are pinned too: a new
parameter with a default needs a deliberate edit to ``KNOBS``. So are
the public functions that only tests call: a new reference or dead
function needs a deliberate edit to ``TEST_ONLY``.
"""
import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

OWN_BATCHING = {
    ("sources", "map_rows"),
    ("structure", "conv_windows"),
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


PANDAS_UDFS = {
    ("detect", "detect_numbers_v1"),
    ("detect", "detect_numbers_v2_arb"),
}


def _pandas_udf_users(path):
    """(module, top-level function) of every reference to
    ``pandas_udf`` (decorator or call) in one file."""
    found = set()
    for top in ast.parse(path.read_text()).body:
        name = top.name if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
        for node in ast.walk(top):
            if (isinstance(node, ast.Name) and node.id == "pandas_udf") or (
                isinstance(node, ast.Attribute) and node.attr == "pandas_udf"
            ):
                found.add((path.stem, name))
    return found


def test_pandas_udf_only_in_detect():
    found = set()
    for path in (ROOT / "xtract").glob("*.py"):
        found |= _pandas_udf_users(path)
    assert found == PANDAS_UDFS


# (module.function, parameter) for every parameter with a default in a
# public top-level function of xtract. A value that job.py and
# perfbench always leave at one setting is a module constant instead,
# which a test that needs another value monkeypatches.
KNOBS = {
    ("catalog.write_ref", "bucket_col"),
    ("ckpt.run_with_checkpoint", "run_id"),
    ("gen.n_turns_for", "mega_every"),
    ("gen.conv_rows", "mega_every"),
    ("gen.transcripts", "partitions"),
    ("oracle.detect", "mode"),
    ("parity.parity_report", "sample_mod"),
    ("pdf.make_pdf", "compress"),
    ("pdf.make_pdf", "bt_per_line"),
    ("pipeline.extract", "mode"),
    ("pipeline.analyze", "mode"),
    ("session.build", "app"),
    ("session.build", "cores"),
    ("session.build", "shuffle_partitions"),
    ("sources.read_files", "glob_filter"),
}


def _knobs(path):
    found = set()
    for top in ast.parse(path.read_text()).body:
        if not isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        if top.name.startswith("_"):
            continue
        a = top.args
        positional = a.posonlyargs + a.args
        defaulted = positional[len(positional) - len(a.defaults):]
        defaulted += [k for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        found |= {(f"{path.stem}.{top.name}", p.arg) for p in defaulted}
    return found


def test_settable_surface():
    found = set()
    for path in (ROOT / "xtract").glob("*.py"):
        found |= _knobs(path)
    assert found == KNOBS


# module.function -> why it stays, for every public top-level xtract
# function that job.py, perfbench/*.py and the xtract modules never
# name: each is a reference that only tests call.
TEST_ONLY = {
    "assemble.merge_continuations_py": "single-conversation assembly oracle both plans are checked against",
    "evaluator.evaluate": "the accuracy gate's metric",
    "fingerprint.fingerprints_naive": "the per-character winnowing the numpy kernel is checked against",
    "html.dom_blocks": "reference form, stage 1: the DOM blocks the fused html kernel is checked against",
    "html.classify": "reference form, stage 2: the SQL when-chain html.is_good restates",
}


def _names(path):
    """Every identifier one file names: variables, attributes and
    imported names."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Name):
            found.add(node.id)
        elif isinstance(node, ast.Attribute):
            found.add(node.attr)
        elif isinstance(node, ast.alias):
            found.add(node.name.split(".")[-1])
    return found


def test_test_only_functions():
    modules = sorted((ROOT / "xtract").glob("*.py"))
    programs = [ROOT / "job.py", *sorted((ROOT / "perfbench").glob("*.py"))]
    named = set().union(*(_names(p) for p in programs + modules))
    found = set()
    for path in modules:
        for top in ast.parse(path.read_text()).body:
            if (
                isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not top.name.startswith("_")
                and top.name not in named
            ):
                found.add(f"{path.stem}.{top.name}")
    assert found == set(TEST_ONLY)
