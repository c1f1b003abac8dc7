"""Every package module is reachable from a root: the driver contract,
the worker daemon, a script, a production entry point or the test
infrastructure. Computed statically over `import` / `from` nodes at any
depth (the package has no importlib or __import__ calls), without Spark.
A module that only its own tests import fails here and should go."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "gpt4ocontentextraction_spark"

ROOT_SCRIPTS = ("__spark_entry__.py", "submit_main.py", "bench.py")
ROOT_MODULES = (
    "driver_contract",  # every gate and EXTRA query
    "worker_daemon",  # spark.python.daemon.module
    "operators.extract_files",  # production entry points
    "streaming.ingest",
    "fixtures",  # test infrastructure
    "plans.inspect",
)
UNREACHED_BY_DESIGN = {
    # perfbench's probe scan; goes when perfbench drops it.
    f"{PKG}.sources.pyscan",
    # media operators and the PNG/BMP/WAV codecs and dHash they call;
    # only their own tests import them. Deleting them deletes 34 tests
    # with them, so they go in a change of their own.
    f"{PKG}.operators.multimodal",
    f"{PKG}.functions.png",
    f"{PKG}.functions.bmp",
    f"{PKG}.functions.wav",
    f"{PKG}.functions.phash",
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _with_parents(name: str) -> list[str]:
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def _imports(path: Path, module: str, mods: dict[str, Path]) -> set[str]:
    is_pkg = path.name == "__init__.py"
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                names.update(_with_parents(alias.name))
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = module.split(".")
                if not is_pkg:
                    base = base[:-1]
                base = base[: len(base) - (node.level - 1)]
                target = ".".join(base + ([node.module] if node.module else []))
            else:
                target = node.module
            names.update(_with_parents(target))
            names.update(f"{target}.{a.name}" for a in node.names)
    return names & mods.keys()


def _reached(mods: dict[str, Path]) -> set[str]:
    found = {n for m in ROOT_MODULES for n in _with_parents(f"{PKG}.{m}")}
    for script in ROOT_SCRIPTS:
        found |= _imports(REPO / script, "", mods)
    todo = list(found)
    while todo:
        name = todo.pop()
        new = _imports(mods[name], name, mods) - found
        found |= new
        todo += new
    return found


def test_every_package_module_is_reachable():
    mods = _package_modules()
    assert UNREACHED_BY_DESIGN <= mods.keys()
    unreached = mods.keys() - _reached(mods) - UNREACHED_BY_DESIGN
    assert not unreached, "unreached: " + ", ".join(sorted(unreached))
