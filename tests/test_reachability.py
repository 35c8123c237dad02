"""Every module of the library is reached from something that runs it.

A static walk over import statements (pure ``ast``, no Spark session)
starts at the code that runs the library outside the test suite: the
query contract ``__spark_entry__.py``, the benchmark ``kgbench/*.py``
and the deployment job ``jobs/run_pipeline.py``.  Dug's own surface that
none of those run yet (the source parsers, the sink writers, the
biolink helpers and the triple metrics) is added as roots too.  A module
that only tests import is library code nothing runs; delete it together
with its tests instead of carrying it.

``TEST_ONLY`` names the modules that are still test-only, each one
awaiting its own deletion; the list must match the scan exactly, so a
new test-only module fails the test and so does a listed one that goes
or gains a caller.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "dug_spark"

EXTRA_ROOTS = (
    "dug_spark.sources",
    "dug_spark.operators.sink",
    "dug_spark.functions.biolink",
    "dug_spark.functions.metrics",
)

# test-only modules still carried, each with the tests that reach it:
# the crawl operators (tests/test_crawl*.py) and the bloom / count-min /
# KMV / Misra-Gries sketches (tests/test_sketch.py)
TEST_ONLY = (
    "dug_spark.operators.crawl",
    "dug_spark.operators.sketch",
)


def _library_modules() -> dict[str, Path]:
    mods = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imports(path: Path, module: str, is_pkg: bool, known: dict) -> set[str]:
    """Library modules that ``path`` imports, anywhere in its body."""
    out = set()
    package = module if is_pkg else module.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return {m for m in out if m in known}


def _reached() -> tuple[set[str], dict[str, Path]]:
    mods = _library_modules()
    roots = [REPO / "__spark_entry__.py", REPO / "jobs" / "run_pipeline.py"]
    roots += sorted((REPO / "kgbench").glob("*.py"))
    todo = []
    for path in roots:
        todo += _imports(path, path.stem, False, mods)
    todo += EXTRA_ROOTS
    seen = set()
    while todo:
        mod = todo.pop()
        # importing a module runs the __init__ of every enclosing package
        parts = mod.split(".")
        for i in range(1, len(parts) + 1):
            name = ".".join(parts[:i])
            if name in mods and name not in seen:
                seen.add(name)
                path = mods[name]
                todo += _imports(path, name, path.name == "__init__.py", mods)
    return seen, mods


def test_every_library_module_is_reached_from_a_non_test_root():
    seen, mods = _reached()
    unreached = set(mods) - seen
    extra = sorted(unreached - set(TEST_ONLY))
    assert not extra, "library modules only tests import: " + ", ".join(extra)
    stale = sorted(set(TEST_ONLY) - unreached)
    assert not stale, "TEST_ONLY names reached or missing modules: " + ", ".join(stale)
