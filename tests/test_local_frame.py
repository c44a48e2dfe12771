"""``session.local_frame``: driver-side rows become a ``LocalRelation``
with exactly the declared schema, and it is the package's only way of
building a frame from Python rows outside the XML parser."""

from __future__ import annotations

import ast
from datetime import date
from pathlib import Path

import pytest
from pyspark.sql.types import StructType

from discogs_etl_spark.session import local_frame

PACKAGE = Path(__file__).resolve().parent.parent / "discogs_etl_spark"

# (module, function) pairs allowed to call createDataFrame directly: the
# helper itself, and the XML parser's nested records, which keep the
# list/RDD path
ALLOWED = {
    ("session.py", "local_frame"),
    ("sources/xml_ingest.py", "ingest_xml"),
    ("sources/xml_ingest.py", "ingest_xml_bytes"),
}

CASES = [
    (
        [("a.xml.gz", date(2019, 3, 8), "2019-03", "artist", "u")],
        "filename string, dump_date date, year_month string, data_type string, url string",
    ),
    (
        [("f", "artist", "/l", None, None), ("g", "label", "/m", "ab", True)],
        "filename string, data_type string, lake_path string, sha256 string, checksum_ok boolean",
    ),
    ([("budget", 0.0, 50_000.0), ("luxury", 300_000.0, 1e18)], "tier string, lo double, hi double"),
    ([(1, 7, 2**40)], "round int, l_suppkey bigint, parts_added bigint"),
    ([], "year int, month string, event_type string, n_events bigint, sum_value double"),
]


@pytest.mark.parametrize("rows,ddl", CASES)
def test_matches_list_built_frame(spark, rows, ddl):
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema == StructType.fromDDL(ddl)
    assert got.collect() == want.collect()


def test_is_a_local_relation(spark):
    df = local_frame(spark, iter([(1, "x"), (2, "y")]), "n int, s string")
    plan = df.where("n > 1").select("s")._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lstrip().startswith("LocalRelation")
    assert [r["s"] for r in df.where("n > 1").collect()] == ["y"]


class _Calls(ast.NodeVisitor):
    """(module, innermost enclosing function) of every createDataFrame call."""

    def __init__(self, rel: str):
        self.rel, self.scope, self.found = rel, ["<module>"], []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        if isinstance(node.func, ast.Attribute) and node.func.attr == "createDataFrame":
            self.found.append((self.rel, self.scope[-1]))
        self.generic_visit(node)


def test_create_dataframe_goes_through_local_frame():
    calls = []
    for path in sorted(PACKAGE.rglob("*.py")):
        v = _Calls(path.relative_to(PACKAGE).as_posix())
        v.visit(ast.parse(path.read_text()))
        calls += v.found
    assert sorted(set(calls)) == sorted(ALLOWED) and len(calls) == len(ALLOWED), (
        f"build driver-side frames with session.local_frame: {sorted(set(calls) - ALLOWED)}"
    )
