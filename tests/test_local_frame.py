"""The driver-to-Spark boundary: ``local_frame`` builds every driver-local
frame, and ``bounded_stream_partitions`` is the one rule sizing the state
store of the bounded streams."""

from __future__ import annotations

import ast
import math
import pathlib

import pytest

from apache_beam_challange_spark.sources.catalog import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "apache_beam_challange_spark"
TOOLS = PACKAGE.parent / "tools"


def _norm(v):
    """NaN as a token so rows compare by value (NaN != NaN)."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


CASES = [
    (
        [
            (1, 2**62 + 1, 0.1 + 0.2, "a", [1.5, float("nan")]),
            (None, None, float("nan"), None, None),
            (-(2**31), -(2**63), None, "é ü", []),
        ],
        "a int, b long, c double, d string, e array<double>",
    ),
    ([], "k long, s string, v double"),
]


@pytest.mark.parametrize("rows,ddl", CASES)
def test_local_frame_matches_list_route(spark, rows, ddl):
    """Same schema and the same values as ``createDataFrame(list, ddl)``:
    exact int64, float64 with NaN kept apart from null, strings, arrays."""
    got = local_frame(spark, rows, ddl)
    ref = spark.createDataFrame(rows, ddl)
    assert got.schema == ref.schema
    assert [_norm(list(r)) for r in got.collect()] == [
        _norm(list(r)) for r in ref.collect()
    ]
    assert [_norm(list(r)) for r in got.collect()] == [
        _norm(list(r)) for r in rows
    ]


def test_local_frame_plans_as_local_relation(spark):
    """No RDD scan, so no Python-worker task runs when a job reads it."""
    df = local_frame(spark, [(i, float(i)) for i in range(50)], "i long, x double")
    p = df.orderBy("x")._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in p
    assert "ExistingRDD" not in p


def _calls(path: pathlib.Path):
    """(enclosing function name, call node) for every call in ``path``."""
    tree = ast.parse(path.read_text(), filename=str(path))
    out = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if isinstance(child, ast.Call):
                out.append((name, child))
            walk(child, name)

    walk(tree, None)
    return out


def test_one_driver_frame_site_and_one_stream_partition_rule():
    """Static, no Spark session: ``createDataFrame(``/``.parallelize(``
    appear only in ``catalog.local_frame``, and only
    ``windows.bounded_stream_partitions`` sets the shuffle partitions."""
    frame_sites, partition_sites = [], []
    for path in sorted([*PACKAGE.rglob("*.py"), *TOOLS.glob("*.py")]):
        rel = path.relative_to(PACKAGE.parent).as_posix()
        for fn, call in _calls(path):
            f = call.func
            if not isinstance(f, ast.Attribute):
                continue
            if f.attr in ("createDataFrame", "parallelize"):
                frame_sites.append((rel, fn))
            first = call.args[0] if call.args else None
            if (
                f.attr in ("set", "config")
                and isinstance(first, ast.Constant)
                and first.value == "spark.sql.shuffle.partitions"
            ):
                partition_sites.append((rel, fn))
    assert frame_sites == [
        ("apache_beam_challange_spark/sources/catalog.py", "local_frame")
    ]
    assert sorted(set(partition_sites)) == [
        ("apache_beam_challange_spark/session.py", "get_spark"),
        (
            "apache_beam_challange_spark/streaming/windows.py",
            "bounded_stream_partitions",
        ),
    ]
