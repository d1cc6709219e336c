"""Every module of the package is reached by the imports of the
pipeline's entry points (the pipeline, the oracle, the fixtures, the
session factory, the Python workers' daemon, the benchmark and the
scaling harness) or of the operator library listed in LIBRARY_FILES,
and every package module or name those files and the tests import
exists.  Code that none of them reaches is deleted, not kept.  A static
(ast) walk — no Spark."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "mongo2neo_spark"
ENTRY_FILES = [
    ROOT / PKG / "plans" / "pipeline.py",
    ROOT / PKG / "oracle.py",
    ROOT / PKG / "fixtures.py",
    ROOT / PKG / "session.py",
    # the Python workers' entry point: session.DEFAULT_CONFS names it in
    # spark.python.daemon.module, a conf string rather than an import
    ROOT / PKG / "worker_daemon.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
    ROOT / "BENCH" / "scaling.py",
    ROOT / "BENCH" / "run_pipeline_job.py",
]
# Document operators: not on the transcript->KG path, kept with their own
# tests (and entry_oracle, their pure-Python reference outputs) until the
# deletion slice of each lands (ROADMAP item 10).  A module joins this
# list on purpose or not at all.
LIBRARY_FILES = [
    ROOT / PKG / "operators" / "dedup.py",
    ROOT / PKG / "operators" / "text.py",
    ROOT / PKG / "operators" / "sampling.py",
    ROOT / PKG / "entry_oracle.py",
]


def _module_name(path: Path):
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[0] != PKG:
        return None
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imports(path: Path):
    """(module, names) of every import in the file, at any depth (imports
    inside functions count), relative imports made absolute."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else (name or "").rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.name, []
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                base = package.split(".")[: len(package.split(".")) - node.level + 1]
                mod = ".".join(base + ([mod] if mod else []))
            yield mod, [alias.name for alias in node.names]


def _top_level_names(path: Path):
    names = set()
    for node in ast.parse(path.read_text(), str(path)).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(t.id for t in targets if isinstance(t, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
    return names


def _missing_names(path: Path, modules: dict):
    """Imports in ``path`` of package modules, or of names in them, that
    do not exist."""
    missing = []
    for mod, names in _imports(path):
        if mod.split(".")[0] != PKG:
            continue
        if mod not in modules:
            missing.append(f"{path.relative_to(ROOT)}: {mod}")
            continue
        missing += [f"{path.relative_to(ROOT)}: {mod}.{n}" for n in names
                    if f"{mod}.{n}" not in modules
                    and n not in _top_level_names(modules[mod])]
    return missing


def test_every_package_module_is_reached():
    modules = {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}
    reached, todo, missing = set(), ENTRY_FILES + LIBRARY_FILES, []
    while todo:
        path = todo.pop()
        if path in reached:
            continue
        reached.add(path)
        missing += _missing_names(path, modules)
        for mod, names in _imports(path):
            parts = mod.split(".")
            # importing a.b.c runs the packages a and a.b too
            todo += [modules[m] for m in
                     (".".join(parts[:i]) for i in range(1, len(parts) + 1))
                     if m in modules]
            # from a.b import submodule
            todo += [modules[f"{mod}.{n}"] for n in names
                     if f"{mod}.{n}" in modules]
    # the tests' imports are checked too, but reach nothing: a module only
    # its tests import is dead code
    for path in sorted((ROOT / "tests").glob("*.py")):
        missing += _missing_names(path, modules)
    assert not missing, f"imports of names that do not exist: {missing}"
    unreached = sorted(m for m, p in modules.items() if p not in reached)
    assert not unreached, f"modules no entry point reaches: {unreached}"
