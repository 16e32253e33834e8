"""Driver-side literal tables go through `operators.common.local_frame`.

`spark.createDataFrame(<python list>, schema)` parallelizes pickled rows,
so every scan or broadcast of the frame runs Python worker tasks;
`local_frame` sends the same rows to the JVM as Arrow and plans as a
LocalTableScan. The guard below is stdlib only (ast): it fails on any
package `createDataFrame(` call whose data is a list or tuple literal, a
comprehension or `list(...)`, directly or through a local name assigned
one. pandas and Arrow data pass. The parity test checks that the helper
returns exactly what `createDataFrame` returns for each schema the
package builds literal tables in."""

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG = "high_performance_parallel_search_engine_spark"


def _listish(node: ast.AST) -> bool:
    return (isinstance(node, (ast.List, ast.Tuple, ast.ListComp,
                              ast.SetComp, ast.GeneratorExp))
            or (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                and node.func.id == "list"))


class _Sites(ast.NodeVisitor):
    """createDataFrame calls with the name -> assigned values of their
    enclosing function (or module) scope."""

    def __init__(self):
        self.scopes = [{}]
        self.calls = []

    def visit_FunctionDef(self, node):
        self.scopes.append({})
        self.generic_visit(node)
        self.scopes.pop()

    def visit_Assign(self, node):
        for t in node.targets:
            if isinstance(t, ast.Name):
                self.scopes[-1].setdefault(t.id, []).append(node.value)
        self.generic_visit(node)

    def visit_Call(self, node):
        if (isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"):
            self.calls.append((node, self.scopes[-1]))
        self.generic_visit(node)


def _row_list_sites(root: Path) -> list[str]:
    sites = []
    for path in sorted((root / PKG).rglob("*.py")):
        v = _Sites()
        v.visit(ast.parse(path.read_text(), str(path)))
        for call, scope in v.calls:
            data = call.args[0] if call.args else next(
                (k.value for k in call.keywords if k.arg == "data"), None)
            if data is None:
                continue
            if _listish(data) or (isinstance(data, ast.Name) and any(
                    _listish(x) for x in scope.get(data.id, ()))):
                sites.append(f"{path.relative_to(root)}:{call.lineno}")
    return sites


def test_no_row_list_create_data_frame_in_package():
    sites = _row_list_sites(ROOT)
    assert not sites, (
        "createDataFrame(<row list>) starts Python workers; build the "
        f"frame with operators.common.local_frame: {sites}")


def test_guard_flags_each_row_list_form(tmp_path):
    """Literal, comprehension, list(...) and a local name assigned one are
    flagged; a pandas frame, an Arrow table and a same-named list in
    another function pass."""
    src = '''\
import pandas as pd

def flagged(spark, d):
    spark.createDataFrame([], "a int")
    spark.createDataFrame([(1,)], "a int")
    spark.createDataFrame(((1,),), "a int")
    spark.createDataFrame([(k,) for k in d], "a int")
    spark.createDataFrame(list(d.items()), "k int, v int")
    spark.createDataFrame(data=[(1,)], schema="a int")
    rows = []
    rows.append((1,))
    spark.createDataFrame(rows, "a int")

def passes(spark, table):
    pdf = pd.DataFrame({"a": [1]})
    spark.createDataFrame(pdf)
    spark.createDataFrame(table, "a int")
    spark.createDataFrame(rows, "a int")
'''
    (tmp_path / PKG).mkdir()
    (tmp_path / PKG / "m.py").write_text(src)
    assert _row_list_sites(tmp_path) == [
        f"{PKG}/m.py:{n}" for n in (4, 5, 6, 7, 8, 9, 12)]


@pytest.mark.parametrize("rows, schema", [
    ([("http://a.x/", "a.x", 1, None, "a.x", 0),
      ("http://a.x/b", "a.x", 2, "http://a.x/", "a.x", 1)], "frontier"),
    ([("a.x", [("allow", "/a"), ("disallow", "/")]), ("b.x", [])],
     "host string, _rules array<struct<rule:string,path_prefix:string>>"),
    ([(0, "join", 3), (1, "window", 1)], "qpos int, term string, df long"),
    ([(0, [1, -2, 3]), (1, [0, 0, 0])], "list_id int, cent array<bigint>"),
    ([], "doc_id long, score double"),
    ([], "frontier"),
])
def test_local_frame_matches_create_data_frame(spark, rows, schema):
    from high_performance_parallel_search_engine_spark.operators.common import (
        local_frame,
    )
    from high_performance_parallel_search_engine_spark.operators.crawl import (
        FRONTIER_SCHEMA,
    )

    if schema == "frontier":
        schema = FRONTIER_SCHEMA
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema       # names, types and nullability
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
