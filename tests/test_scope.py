"""Scope guard: the package is a crawler plus a pinned list of
off-path modules. Every module under `yacy_grid_crawler_spark/` must be
reached, through `import`/`from` statements (function-level ones
included), from the crawl entry points, the CLI, the streaming variant,
the oracle, the fixture generator or the benchmark; the only exceptions
are the modules in OFF_PATH, which serve the `__spark_entry__` analytics
registry or stand alone with their own tests. Spark-free: the import
graph is read with `ast`, nothing is executed.
"""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "yacy_grid_crawler_spark"
ROOTS = [
    f"{PKG}/plans/crawl_job.py",
    f"{PKG}/plans/multiwave.py",
    f"{PKG}/__main__.py",
    f"{PKG}/streaming/frontier_stream.py",
    f"{PKG}/oracle/spec.py",
    f"{PKG}/fixtures/gen.py",
    *sorted(
        os.path.relpath(p, REPO)
        for p in glob.glob(os.path.join(REPO, "perfbench", "*.py"))
    ),
]

# Reached from no crawl-side root. Removing one of these (with its
# tests and registry entries) shrinks this list; a new module that the
# crawl does not import has to be named here on purpose.
OFF_PATH = {
    f"{PKG}.operators.{m}"
    for m in (
        "bpe", "clustering", "dedup_text", "graph", "joins", "multimodal",
        "sampling", "similarity", "sketches", "suffix", "textstats",
    )
} | {f"{PKG}.sources.{m}" for m in ("iceberg", "synth", "warc")}


def _module_name(rel: str) -> str:
    parts = rel[: -len(".py")].split(os.sep)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _package_modules() -> dict[str, str]:
    """Dotted name → repo-relative path of every module in the package."""
    out = {}
    for p in glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(p, REPO)
        out[_module_name(rel)] = rel
    return out


def _imported_names(rel: str) -> set[str]:
    """Every dotted name an `import`/`from` statement in the file can
    load: `from a.b import c` may load `a.b` or the submodule `a.b.c`."""
    with open(os.path.join(REPO, rel)) as fh:
        tree = ast.parse(fh.read(), rel)
    me = _module_name(rel)
    package = me if rel.endswith("__init__.py") else me.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module
            if node.level:
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def _reached() -> set[str]:
    modules = _package_modules()
    reached: set[str] = set()
    todo = [r for r in ROOTS if not r.startswith(PKG + os.sep)]

    def load(name: str) -> None:
        # importing a.b.c also runs the packages a and a.b
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in modules and mod not in reached:
                reached.add(mod)
                todo.append(modules[mod])

    for rel in ROOTS:
        if rel.startswith(PKG + os.sep):
            load(_module_name(rel))
    while todo:
        for name in _imported_names(todo.pop()):
            load(name)
    return reached


def test_every_package_module_is_reached():
    unreached = set(_package_modules()) - _reached()
    assert unreached == OFF_PATH, (
        f"unreached, not in OFF_PATH: {sorted(unreached - OFF_PATH)}; "
        f"in OFF_PATH, now reached or gone: {sorted(OFF_PATH - unreached)}"
    )
