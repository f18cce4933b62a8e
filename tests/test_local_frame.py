"""``session.local_frame``: driver-side rows become an Arrow-backed
LocalRelation typed by a DDL, with every value round-tripping exactly,
and the service and the delete path build their small frames through it
rather than ``createDataFrame(<python list>)``, which runs a Spark job
with a Python worker to unpickle the rows."""

from __future__ import annotations

import ast
import datetime
import decimal
import pathlib

from cloudfloe_spark.session import local_frame

_PKG = pathlib.Path(__file__).resolve().parent.parent / "cloudfloe_spark"

_DDL = (
    "snapshot_id BIGINT, at TIMESTAMP_NTZ, amount DECIMAL(12, 2), "
    "tags ARRAY<STRING>, name STRING, ok BOOLEAN, n INT, x DOUBLE, d DATE, "
    "ts TIMESTAMP"
)
_ROWS = [
    (
        9223372036854775807,  # the largest 63-bit snapshot id
        datetime.datetime(2023, 11, 14, 22, 13, 20, 123456),
        decimal.Decimal("1234567890.12"),
        [],
        "a",
        True,
        -7,
        0.1,
        datetime.date(1970, 1, 1),
        datetime.datetime(2023, 11, 14, 22, 13, 20),  # session tz is UTC
    ),
    (
        4611686018427387905,
        datetime.datetime(1999, 12, 31, 23, 59, 59),
        decimal.Decimal("-0.50"),
        ["x", None, ""],
        "",
        False,
        2147483647,
        -1e300,
        datetime.date(2038, 1, 20),
        datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),
    ),
    (None,) * 10,
]


def test_local_frame_round_trips_types(spark):
    df = local_frame(spark, _ROWS, _DDL)
    assert "LocalRelation" in df._jdf.queryExecution().analyzed().toString()
    assert df.schema == spark.createDataFrame([], _DDL).schema
    assert [tuple(r) for r in df.collect()] == _ROWS


def test_local_frame_empty_keeps_columns(spark):
    df = local_frame(spark, [], _DDL)
    assert df.schema == spark.createDataFrame([], _DDL).schema
    assert df.collect() == []


def _list_built_frames(path: pathlib.Path) -> list[int]:
    """Lines of ``createDataFrame(<list literal or comprehension>, ...)``
    calls in ``path``."""
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
        and node.args
        and isinstance(node.args[0], (ast.List, ast.ListComp))
    ]


def test_service_and_deletes_build_no_frames_from_python_lists():
    files = sorted((_PKG / "service").rglob("*.py")) + [
        _PKG / "sources" / "deletes.py"
    ]
    found = {
        str(p.relative_to(_PKG)): lines
        for p in files
        if (lines := _list_built_frames(p))
    }
    assert found == {}, f"use session.local_frame instead: {found}"


def test_list_frame_guard_sees_both_forms(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "a = s.createDataFrame([], 'x INT')\n"
        "b = s.createDataFrame([(i,) for i in r], 'x INT')\n"
        "c = s.createDataFrame(table, schema)\n"
    )
    assert _list_built_frames(src) == [1, 2]
