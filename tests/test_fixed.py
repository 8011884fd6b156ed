"""kernels.fixed: the micro-unit quantizer and its DuckDB twin agree,
and no other module re-states the rule."""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import (
    fixed,
    fixed_abs,
    fixed_abs_sql,
    fixed_sql,
)

ROOT = Path(__file__).resolve().parent.parent
VALUES = [0.0, 2.5e-6, -2.5e-6, 0.4999999e-6, -0.4999999e-6, 1e12, None]
SCALES = [1e3, 1e4, 1e6, 1e9]


def _in_range(v, scale) -> bool:
    """|v|·scale fits a BIGINT (the quantizer's documented envelope)."""
    return v is None or abs(v) * scale < 2.0**63


@pytest.mark.parametrize("scale", SCALES)
def test_fixed_matches_duckdb_twin(spark, scale):
    rows = [(i, v) for i, v in enumerate(VALUES) if _in_range(v, scale)]
    x = F.col("x")
    got = sorted(
        tuple(r)
        for r in spark.createDataFrame(rows, "i int, x double")
        .select("i", fixed(x, scale), fixed_abs(x, scale))
        .collect()
    )
    values = ", ".join(
        f"({i}, {'NULL' if v is None else repr(v)}::DOUBLE)" for i, v in rows
    )
    want = sorted(
        duckdb.connect()
        .execute(
            f"SELECT i, {fixed_sql('x', scale)}, {fixed_abs_sql('x', scale)}"
            f" FROM (VALUES {values}) t(i, x)"
        )
        .fetchall()
    )
    assert got == want
    by_i = {r[0]: r[1:] for r in got}
    # half away from zero, sign applied to the integer count
    assert by_i[0] == (0, 0)
    assert by_i[6] == (None, None)
    if scale == 1e6:
        assert by_i[1] == (3, 3) and by_i[2] == (-3, 3)
        assert by_i[3] == (0, 0) and by_i[4] == (0, 0)
        assert by_i[5] == (10**18, 10**18)


def test_sql_twin_text():
    assert fixed_abs_sql("v") == (
        "CAST(floor(abs(v) * 1000000.0 + 0.5) AS BIGINT)"
    )
    m = "CAST(floor(abs(v) * 1000000000.0 + 0.5) AS BIGINT)"
    assert fixed_sql("v", 1e9) == f"(CASE WHEN (v) < 0 THEN -{m} ELSE {m} END)"


def test_rule_is_stated_once():
    """``floor(abs(`` appears only in kernels/fixed.py: every operator
    and the contract entry point quantize through that module."""
    pat = re.compile(r"floor\((F\.)?abs\(")
    files = [ROOT / "__spark_entry__.py", *sorted(
        (ROOT / "med_doi_feature_extraction_spark").rglob("*.py")
    )]
    hits = [
        f"{p.relative_to(ROOT)}:{n}"
        for p in files
        if p.name != "fixed.py" or p.parent.name != "kernels"
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert hits == []


@pytest.mark.parametrize("v", [float("nan"), float("inf"), float("-inf"), 1e12, -1e12])
def test_both_engines_raise_outside_envelope(spark, v):
    """NaN, ±inf and |x|·1e9 ≥ 2^63 fail in Spark as they do in DuckDB
    (no silent 0 or saturated count); NULL passes through both."""
    df = spark.createDataFrame([(v,), (None,)], "x double")
    for build in (fixed, fixed_abs):
        with pytest.raises(Exception, match="fixed-point overflow"):
            df.select(build(F.col("x"), 1e9)).collect()
        got = df.filter(F.col("x").isNull()).select(build(F.col("x"), 1e9)).collect()
        assert [tuple(r) for r in got] == [(None,)]
    con = duckdb.connect()
    for sql in (fixed_sql, fixed_abs_sql):
        with pytest.raises(duckdb.Error):
            con.execute(f"SELECT {sql('x', 1e9)} FROM (VALUES (?::DOUBLE)) t(x)", [v]).fetchall()
        assert con.execute(
            f"SELECT {sql('x', 1e9)} FROM (VALUES (NULL::DOUBLE)) t(x)"
        ).fetchall() == [(None,)]
