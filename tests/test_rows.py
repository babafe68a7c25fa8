"""functions/rows.py is the one way driver-held rows enter a plan: both
of its paths give the same rows and types, it refuses what it cannot
render exactly, and no other engine module builds such a frame."""

from __future__ import annotations

import ast
import math
import os
import re

import pytest

from task_hive_spark.functions import rows as R

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCHEMA = (
    "i int, b bigint not null, d double, s string,"
    " ab array<bigint>, a_s ARRAY<STRING>, l long"
)
ROWS = [
    (2147483647, -9223372036854775808, -0.0, "q'\\\né", [1, -9223372036854775808], ["a'", "\\"], 7),
    (-2147483648, 9223372036854775807, 5e-324, None, [], [], None),
    (None, 0, 1.7976931348623157e308, "", None, [None, "x"], -1),
    (0, 1, -2.5e-7, "plain", [None], None, 0),
    # spark.sql substitutes ${...} in quoted literals too
    (1, 2, 0.5, "${env:HOME}", None, ["${x}", "$", "\\u0024"], 3),
]


def _leaf(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_literal_and_checkpoint_paths_agree(spark, monkeypatch):
    lit = R.rows_frame(spark, ROWS, SCHEMA)
    assert "LocalRelation" in _leaf(lit)
    monkeypatch.setattr(R, "LITERAL_MAX_BYTES", 10)
    ck = R.rows_frame(spark, ROWS, SCHEMA)
    assert "LogicalRDD" in _leaf(ck)
    assert lit.dtypes == ck.dtypes == [
        ("i", "int"), ("b", "bigint"), ("d", "double"), ("s", "string"),
        ("ab", "array<bigint>"), ("a_s", "array<string>"), ("l", "bigint"),
    ]
    got = lit.collect()
    assert got == ck.collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ROWS]
    assert math.copysign(1.0, got[0]["d"]) == -1.0  # -0.0 keeps its sign


def test_empty_rows_are_a_local_relation(spark, tmp_path):
    df = R.rows_frame(spark, [], "id string, t timestamp, n long")
    assert df.dtypes == [("id", "string"), ("t", "timestamp"), ("n", "bigint")]
    assert "LocalRelation" in _leaf(df) and df.collect() == []
    out = str(tmp_path / "empty")
    df.write.parquet(out)
    assert spark.read.parquet(out).dtypes == df.dtypes


def test_escaped_string_literals_take_the_checkpoint_path(spark):
    rows = [("it's \\ here",), ("${x}",)]
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        df = R.rows_frame(spark, rows, "s string")
        assert "LogicalRDD" in _leaf(df)
        assert [r["s"] for r in df.collect()] == [r[0] for r in rows]
        # text without a quote or backslash needs no escape, so no conf read
        assert "LocalRelation" in _leaf(R.rows_frame(spark, [("plain",)], "s string"))
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(1,)], "x decimal(10,2)"),  # unsupported type
        ([(1.0,)], "x boolean"),
        ([(float("nan"),)], "x double"),  # non-finite double
        ([(float("inf"),)], "x double"),
        ([(1,)], "x double"),  # Python type does not fit the column
        ([("1",)], "x bigint"),
        ([(True,)], "x int"),
        ([(2147483648,)], "x int"),  # out of the column's range
        ([(1 << 63,)], "x bigint"),
        ([(b"x",)], "x string"),
        ([({"k": "v"},)], "x string"),
        ([("a",)], "x array<string>"),
        ([([1.5],)], "x array<bigint>"),
        ([(None,)], "x bigint not null"),
        ([(1, 2)], "x bigint"),  # row width
    ],
)
def test_unsupported_values_raise(spark, rows, schema):
    with pytest.raises(ValueError):
        R.rows_frame(spark, rows, schema)


def _engine_files() -> list[tuple[str, str]]:
    out = []
    for dirpath, _dirs, files in os.walk(os.path.join(REPO_ROOT, "task_hive_spark")):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    out.append((os.path.relpath(path, REPO_ROOT), fh.read()))
    return out


def _ends_in_values(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and re.search(r"\bVALUES\s*\(?\s*$", node.value) is not None
    )


def _values_splices(tree: ast.AST) -> list[int]:
    """Lines where a value is spliced right after VALUES, by an f-string
    or by string concatenation."""
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.JoinedStr):
            pairs = zip(node.values, node.values[1:])
            if any(_ends_in_values(a) and isinstance(b, ast.FormattedValue) for a, b in pairs):
                hits.append(node.lineno)
        elif isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
            if _ends_in_values(node.left) and not isinstance(node.right, ast.Constant):
                hits.append(node.lineno)
    return hits


def _sql_calls(tree: ast.AST) -> list[ast.Call]:
    return [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == "sql"
    ]


def test_driver_rows_enter_plans_only_through_rows_frame():
    """createDataFrame( is written only in rows.py and in
    sources/partfiles.py (the split list's parallelize spreads the
    work); no
    spark.sql call splices driver values after a VALUES keyword, and
    only rows.py reads escapedStringLiterals. DuckDB oracle SQL may
    splice static VALUES tables: it never reaches spark.sql."""
    rows_py = os.path.join("task_hive_spark", "functions", "rows.py")
    partfiles_py = os.path.join("task_hive_spark", "sources", "partfiles.py")
    stray = []
    for rel, text in _engine_files():
        if rel == rows_py:
            continue
        if "createDataFrame(" in text and rel != partfiles_py:
            stray.append((rel, "createDataFrame("))
        if "escapedStringLiterals" in text:
            stray.append((rel, "escapedStringLiterals"))
        for call in _sql_calls(ast.parse(text)):
            for line in _values_splices(call):
                stray.append((rel, f"VALUES splice at line {line}"))
    assert not stray, stray
