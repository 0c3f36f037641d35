"""The dual-dialect md5-prefix hash: one helper, the same value in
Spark SQL, DuckDB and Python."""

import ast
import hashlib
from pathlib import Path

import duckdb
import pytest

from pythonql_spark.operators.text import md5_prefix_int, sql_str

STRINGS = ["", "a", "the quick brown fox", "0#123", "naïve café — 日本語"]


def _expected(s: str, d: int) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:d], 16)


@pytest.mark.parametrize("hex_digits", [8, 9, 15])
def test_md5_prefix_int_matches_python(spark, hex_digits):
    want = [_expected(s, hex_digits) for s in STRINGS]
    spark_sql = ", ".join(
        md5_prefix_int(sql_str(s), hex_digits, "spark") for s in STRINGS)
    assert list(spark.sql(f"SELECT {spark_sql}").first()) == want
    duck_sql = ", ".join(
        md5_prefix_int(sql_str(s), hex_digits, "duck") for s in STRINGS)
    assert list(duckdb.sql(f"SELECT {duck_sql}").fetchone()) == want


def test_md5_prefix_is_written_once():
    """Every md5-prefix hash goes through ``md5_prefix_int``: the
    literal ``substring(md5(`` may appear nowhere else in the
    package, so the Spark and DuckDB forms cannot drift apart."""
    pkg = Path(__file__).resolve().parent.parent / "pythonql_spark"
    stray = []
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        if "substring(md5(" not in src:
            continue
        spans = [(n.lineno, n.end_lineno)
                 for n in ast.walk(ast.parse(src))
                 if isinstance(n, ast.FunctionDef)
                 and n.name == "md5_prefix_int"]
        for no, line in enumerate(src.splitlines(), 1):
            if "substring(md5(" in line and not any(
                    a <= no <= b for a, b in spans):
                stray.append(f"{path.relative_to(pkg)}:{no}")
    assert not stray, stray
