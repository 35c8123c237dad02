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

A second, name-level scan holds every top-level function, class and
module constant under ``dug_spark/`` to at least one reference from a
``.py`` file of the repo (a loaded name, an attribute or an import
alias; the definition itself is not one).  A name nothing mentions is
dead code, whatever imports its module.
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
# the bloom / count-min / KMV / Misra-Gries sketches (tests/test_sketch.py)
TEST_ONLY = ("dug_spark.operators.sketch",)


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


def _top_level_names(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                yield from (n.id for n in ast.walk(t) if isinstance(n, ast.Name))


def _referenced_names() -> set[str]:
    refs = set()
    for path in REPO.rglob("*.py"):
        if any(p.startswith(".") for p in path.relative_to(REPO).parts):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.alias):
                refs.add(node.name.rpartition(".")[2])
    return refs


def test_every_library_name_is_referenced():
    refs = _referenced_names()
    unreferenced = [
        f"{mod}.{name}"
        for mod, path in sorted(_library_modules().items())
        for name in _top_level_names(ast.parse(path.read_text()))
        if name not in refs
    ]
    assert not unreferenced, "library names nothing references: " + ", ".join(
        unreferenced
    )
