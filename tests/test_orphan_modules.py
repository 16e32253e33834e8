"""Every package module is reached from outside itself: some file that is
neither a test nor measurement code (the package, a non-bench tool or
`__spark_entry__.py`) imports it. A module that only its own tests or
benches import is code no entry point runs. Measurement code - `bench.py`,
`tools/bench_*.py` and `perfbench/` - is scanned but does not count as an
importer. Stdlib only (ast), no Spark."""

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG = "high_performance_parallel_search_engine_spark"
SCRIPTS = ("bench.py", "__spark_entry__.py")


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


def _is_measurement(path: Path, root: Path) -> bool:
    rel = path.relative_to(root)
    return (rel.parts[0] == "perfbench" or rel.name == "bench.py"
            or (rel.parts[0] == "tools" and rel.name.startswith("bench_")))


def _orphans(root: Path) -> list[str]:
    importers = {}
    for path in _sources(root):
        if _is_measurement(path, root):
            continue
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
        f"package modules only tests or benches import: {orphans}")


def test_guard_resolves_each_import_form(tmp_path):
    """On a made-up tree: a module reached by `from . import m`, by
    `from .m import x`, by `from ..pkg.m import x`, by an absolute import
    from tools/ or by a top-level script counts as imported; one that only
    imports itself, or only its tests, bench.py, a tools/bench_*.py script
    or perfbench/ import, is an orphan."""
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
        f"{PKG}/sub/h.py": "",
        f"{PKG}/sub/i.py": "",
        f"{PKG}/sub/j.py": "",
        f"{PKG}/__main__.py": "",
        "tools/run.py": f"from {PKG}.sub import e\n",
        "__spark_entry__.py": f"import {PKG}.sub.f as f\n",
        "tests/test_g.py": f"from {PKG}.sub import g\n",
        "tools/bench_x.py": f"from {PKG}.sub import h\n",
        "bench.py": f"import {PKG}.sub.i\n",
        "perfbench/run.py": f"from {PKG}.sub.j import z\n",
    }
    for name, text in files.items():
        (tmp_path / name).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / name).write_text(text)
    assert _orphans(tmp_path) == [f"{PKG}.sub.{m}"
                                  for m in ("c", "g", "h", "i", "j")]


@pytest.mark.parametrize("rel, measurement", [
    ("bench.py", True),
    ("tools/bench_crawl.py", True),
    ("perfbench/workloads/serve.py", True),
    ("tools/serve_api.py", False),
    ("__spark_entry__.py", False),
    (f"{PKG}/operators/bench_util.py", False),
])
def test_measurement_code_is_bench_py_tools_bench_and_perfbench(rel,
                                                               measurement):
    assert _is_measurement(ROOT / rel, ROOT) is measurement


def test_a_bench_import_does_not_hide_a_real_one(tmp_path):
    """A module that a bench AND a non-bench file import is reached; so is
    one imported by a package module whose name starts with bench_, or by
    a tools/ script not named bench_*."""
    files = {
        f"{PKG}/__init__.py": "from . import bench_util\n",
        f"{PKG}/bench_util.py": "from .a import x\n",
        f"{PKG}/a.py": "x = 1\n",
        f"{PKG}/b.py": "",
        f"{PKG}/c.py": "",
        "tools/bench_x.py": f"from {PKG} import b, c\n",
        "tools/run.py": f"import {PKG}.b\n",
        "tools/benchmarks.py": f"from {PKG}.c import y\n",
    }
    for name, text in files.items():
        (tmp_path / name).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / name).write_text(text)
    assert _orphans(tmp_path) == []
    (tmp_path / "tools/run.py").write_text("")
    assert _orphans(tmp_path) == [f"{PKG}.b"]
