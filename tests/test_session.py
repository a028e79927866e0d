"""``session.literal_df``: the local-relation twin of
``createDataFrame`` that small driver-built results (probe top-k lists,
facade results, plan outputs) are returned through."""

from __future__ import annotations

import math

import pytest

from openverse_catalog_spark.session import literal_df

LONG_MAX = 2**63 - 1


def _cells(df) -> list[list[str]]:
    """Every cell by ``repr``, so -0.0 != 0.0, NaN == NaN and an int
    never equals a float."""
    return [[repr(v) for v in r] for r in df.collect()]


def _same_as_create(spark, rows, schema):
    lit = literal_df(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert lit.schema == ref.schema
    assert _cells(lit) == _cells(ref), (_cells(lit), _cells(ref))
    return lit


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_literal_df_numeric_extremes_equal_create_dataframe(spark):
    """Longs at +-(2**63 - 1), the int32 boundaries, NaN, the
    infinities, -0.0, the smallest subnormal and 1e308 come back as
    the exact values createDataFrame gives, in a local relation."""
    schema = "a long, b int, c double, d boolean, e double"
    rows = [
        (LONG_MAX, 2**31 - 1, math.nan, True, -0.0),
        (-LONG_MAX, -(2**31), math.inf, False, 5e-324),
        (-(2**63), 0, -math.inf, None, 1e308),
        (None, None, None, True, 0.1 + 0.2),
        (7, -1, 1.5, False, -1e-300),
    ]
    out = _same_as_create(spark, rows, schema)
    assert "LocalTableScan" in _plan(out)
    c = out.collect()
    assert c[2].a == -(2**63)
    assert math.copysign(1.0, c[0].e) == -1.0
    assert c[1].e == 5e-324 and c[3].e == 0.1 + 0.2


def test_literal_df_date_and_decimal_from_strings(spark):
    """Date and decimal columns fed from strings cast exactly like the
    parameter-bound form; rows mixing strings and numbers keep both."""
    from pyspark.sql.types import StructType

    schema = "d date, x decimal(20,4), n long, s string"
    rows = [
        ("2024-02-29", "12345678901234.5678", 3, "a"),
        ("1970-01-01", "-0.0001", None, None),
        (None, None, -5, ""),
    ]
    out = literal_df(spark, rows, schema)
    assert out.schema == StructType.fromDDL(schema)
    got = [[repr(v) for v in r] for r in out.collect()]
    assert got == [
        ["datetime.date(2024, 2, 29)", "Decimal('12345678901234.5678')",
         "3", "'a'"],
        ["datetime.date(1970, 1, 1)", "Decimal('-0.0001')", "None",
         "None"],
        ["None", "None", "-5", "''"],
    ]
    assert "LocalTableScan" in _plan(out)


def test_literal_df_strings_come_back_verbatim(spark):
    """Strings are bound as parameters: quotes, backslashes, comment
    openers and text that looks like a parameter marker come back as
    written and change nothing else in the query."""
    nasty = [
        "it's", "back\\slash", "a -- comment", ":p0_0", "*/ x /*",
        "'); DROP TABLE t; --", "\\'", "",
    ]
    rows = [(i, s, float(i)) for i, s in enumerate(nasty)]
    out = _same_as_create(spark, rows, "i long, s string, f double")
    assert [r.s for r in out.collect()] == nasty
    assert out.count() == len(nasty)


def test_literal_df_fallbacks(spark):
    """Empty row sets, more than 256 rows, non-scalar cells, ints past
    the long range and non-sequence rows keep createDataFrame (its
    plan scans an RDD, not a local relation), with the same rows."""
    from pyspark.sql import Row

    empty = literal_df(spark, [], "a long")
    assert empty.collect() == [] and "ExistingRDD" in _plan(empty)

    many = [(i, i * 0.5) for i in range(300)]
    big = _same_as_create(spark, many, "a long, b double")
    assert "ExistingRDD" in _plan(big)
    assert "LocalTableScan" in _plan(
        _same_as_create(spark, many[:256], "a long, b double")
    )

    arr = _same_as_create(spark, [(1, [1.0, 2.0])], "a long, v array<double>")
    assert "ExistingRDD" in _plan(arr)

    class Loud(int):
        def __repr__(self):
            return "1) --"

    # createDataFrame refuses an int past the long range and an int
    # subclass; so does literal_df, instead of writing either into the
    # query text
    for row, schema in (((2**64,), "a decimal(38,0)"),
                        ((Loud(3),), "a long")):
        with pytest.raises(Exception) as ref:
            spark.createDataFrame([row], schema)
        with pytest.raises(type(ref.value)):
            literal_df(spark, [row], schema)

    rows = literal_df(spark, [Row(a=1, b="x")], "a long, b string")
    assert rows.collect() == [Row(a=1, b="x")]
