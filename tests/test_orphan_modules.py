"""Every package module is reached from outside itself: some non-test
file (the package, tools/, perfbench/ or a top-level script) imports it.
A module that only its own tests import is code no entry point runs.
Stdlib only (ast), no Spark."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "high_performance_parallel_search_engine_spark"
SCRIPTS = ("bench.py", "bench_extra.py", "__spark_entry__.py")


def _sources(root: Path) -> list[Path]:
    files = [root / name for name in SCRIPTS if (root / name).exists()]
    for d in (PKG, "tools", "perfbench"):
        files += sorted((root / d).rglob("*.py"))
    return files


def _module(path: Path, root: Path) -> str:
    parts = path.relative_to(root).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_names(path: Path, root: Path) -> set[str]:
    """Dotted names an import statement in `path` may bind: the module
    itself and, for `from X import a`, also X.a (a may be a submodule).
    Relative imports resolve against the file's own package."""
    package = _module(path, root).split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[:len(package) - node.level + 1]
                target = ".".join(base + ([node.module] if node.module
                                          else []))
            else:
                target = node.module
            names.add(target)
            names.update(f"{target}.{a.name}" for a in node.names)
    return names


def _orphans(root: Path) -> list[str]:
    importers = {}
    for path in _sources(root):
        me = _module(path, root)
        for name in _imported_names(path, root):
            if name != me:
                importers.setdefault(name, set()).add(me)
    orphans = []
    for path in sorted((root / PKG).rglob("*.py")):
        if path.stem in ("__init__", "__main__"):
            continue
        mod = _module(path, root)
        if not any(n == mod or n.startswith(mod + ".") for n in importers):
            orphans.append(mod)
    return orphans


def test_every_package_module_has_an_importer():
    orphans = _orphans(ROOT)
    assert not orphans, (
        f"package modules no non-test file imports: {orphans}")


def test_guard_resolves_each_import_form(tmp_path):
    """On a made-up tree: a module reached by `from . import m`, by
    `from .m import x`, by `from ..pkg.m import x`, by an absolute import
    from tools/ or by a top-level script counts as imported; one that only
    imports itself, or only its tests import, is an orphan."""
    files = {
        f"{PKG}/__init__.py": "from . import a\n",
        f"{PKG}/a.py": "from .b import x\n",
        f"{PKG}/b.py": "x = 1\n",
        f"{PKG}/sub/__init__.py": "",
        f"{PKG}/sub/c.py": f"from ..sub.d import y\nimport {PKG}.sub.c\n",
        f"{PKG}/sub/d.py": "y = 2\n",
        f"{PKG}/sub/e.py": "",
        f"{PKG}/sub/f.py": "",
        f"{PKG}/sub/g.py": "",
        f"{PKG}/__main__.py": "",
        "tools/run.py": f"from {PKG}.sub import e\n",
        "bench.py": f"import {PKG}.sub.f as f\n",
        "tests/test_g.py": f"from {PKG}.sub import g\n",
    }
    for name, text in files.items():
        (tmp_path / name).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / name).write_text(text)
    assert _orphans(tmp_path) == [f"{PKG}.sub.c", f"{PKG}.sub.g"]
