"""The cross-engine value devices of ``functions/exact.py``.

Parity: each Spark-side helper computes the same values as the DuckDB
text the oracles use for it, row by row, NULLs included.

Lint (pure Python, over the AST): outside ``functions/exact.py`` the package builds
none of these devices inline, so a change to one device is a change to
one function.
"""

from __future__ import annotations

import ast
import os

import duckdb
import pytest

from pyspark.sql import functions as F

from etl_pipeline_with_alpha_vantage_spark.functions.exact import (
    md5_long,
    md5_uniform,
    norm_text,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "etl_pipeline_with_alpha_vantage_spark",
)

ROWS = [
    (1, 42, "2025-10-03", "Hello, World!"),
    (2, -7, "2024-02-29", "  MiXeD  case\tand_under-score  "),
    (3, 0, "1999-12-31", "Ünïcode café 42"),
    (4, 123456789012, "2025-01-01", "!!!"),
    (5, None, None, None),
]


@pytest.fixture(scope="module")
def frames(spark):
    df = spark.createDataFrame(ROWS, "id long, k long, d string, text string")
    df = df.withColumn("d", F.to_date("d"))
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE t (id BIGINT, k BIGINT, d DATE, text VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", ROWS)
    return df, con


def _spark_values(df, col):
    return [r[1] for r in df.select("id", col).orderBy("id").collect()]


def _duck_values(con, expr):
    return [r[1] for r in con.sql(f"SELECT id, {expr} FROM t ORDER BY id").fetchall()]


def _duck_md5_long(text_sql, digits):
    return f"('0x' || substr(md5({text_sql}), 1, {digits}))::BIGINT"


@pytest.mark.parametrize("digits", [8, 13, 15])
def test_md5_long_matches_duckdb(frames, digits):
    df, con = frames
    cases = [
        (md5_long(F.col("k"), digits=digits), "CAST(k AS VARCHAR)"),
        (
            md5_long("salt:", F.col("k"), digits=digits),
            "'salt:' || CAST(k AS VARCHAR)",
        ),
        (
            md5_long("kmv:", F.col("k"), ":", F.col("d"), digits=digits),
            "'kmv:' || CAST(k AS VARCHAR) || ':' || CAST(d AS VARCHAR)",
        ),
    ]
    for col, text_sql in cases:
        got = _spark_values(df, col)
        assert got == _duck_values(con, _duck_md5_long(text_sql, digits)), text_sql
        assert got[-1] is None  # a NULL part hashes to NULL on both engines
        assert all(v is None or 0 <= v < 16**digits for v in got)


def test_md5_uniform_matches_duckdb(frames):
    df, con = frames
    got = _spark_values(df, md5_uniform("dp:", F.col("k")))
    h = _duck_md5_long("'dp:' || CAST(k AS VARCHAR)", 8)
    want = _duck_values(con, f"({h} + 0.5) / 4294967296.0")
    assert got == want
    assert all(0.0 < u < 1.0 for u in got[:-1])


def test_norm_text_matches_duckdb(frames):
    df, con = frames
    got = _spark_values(df, norm_text())
    want = _duck_values(
        con, "trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'))"
    )
    assert got == want
    assert got[0] == "hello  world"


def test_md5_long_rejects_digits_past_a_signed_long():
    # 16 hex digits overflow a signed long; the non-ANSI cast would
    # silently return NULL instead of failing.
    with pytest.raises(ValueError):
        md5_long(F.col("k"), digits=16)


def _inline_device(node):
    """What ``node`` builds inline that belongs in exact.py, or None."""
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
        return None
    target = ast.unparse(node.func)
    if target == "F.conv":
        return "F.conv("
    # F.round(<x> * 100).cast("long") and its 1e6 twin
    inner = node.func.value
    if (
        node.func.attr == "cast"
        and [ast.unparse(a) for a in node.args] == ["'long'"]
        and isinstance(inner, ast.Call)
        and ast.unparse(inner.func) == "F.round"
        and len(inner.args) == 1
        and isinstance(inner.args[0], ast.BinOp)
        and isinstance(inner.args[0].op, ast.Mult)
        and isinstance(inner.args[0].right, ast.Constant)
        and inner.args[0].right.value in (100, 1_000_000)
    ):
        return f'F.round(... * {inner.args[0].right.value}).cast("long")'
    return None


def test_devices_are_built_only_in_exact():
    found = []
    for root, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            if not fn.endswith(".py") or rel == os.path.join("functions", "exact.py"):
                continue
            for node in ast.walk(ast.parse(open(path).read())):
                label = _inline_device(node)
                if label:
                    found.append(f"{rel}:{node.lineno}: {label}")
    assert not found, (
        "build these through functions/exact.py (cents, md5_long, "
        "md5_uniform):\n" + "\n".join(sorted(found))
    )
