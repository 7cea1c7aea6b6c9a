"""values_df: LocalRelation semantics and literal fidelity."""

import pytest

from bunsen_spark.localrel import values_df


@pytest.fixture(scope="module")
def spark():
    from bunsen_spark.session import get_spark

    return get_spark("test_localrel")


def test_values_df_matches_createdataframe(spark):
    rows = [
        (1, "it's a 'quote'", 2.5),
        (2, "back\\slash", float("inf")),
        (3, None, -0.0),
        (None, "", 1e-300),
    ]
    ddl = "a long, b string, c double"
    got = values_df(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, want.collect()), key=str
    )


def test_values_df_array_double(spark):
    rows = [(1, [0.1, -0.0, 1e-300, float("inf")]), (2, []), (3, None)]
    ddl = "a long, v array<double>"
    got = values_df(spark, rows, ddl)
    assert got.dtypes == [("a", "bigint"), ("v", "array<double>")]
    assert "LocalRelation" in got._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, spark.createDataFrame(rows, ddl).collect()), key=str
    )


def test_values_df_is_local_relation(spark):
    df = values_df(spark, [(1, "x")], "a int, b string")
    # a LocalRelation collect launches no job: executedPlan has no scan
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan


def test_values_df_empty_rows(spark):
    df = values_df(spark, [], "a long, b string")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["a", "b"]


def test_values_df_rejects_unknown_type(spark):
    with pytest.raises(ValueError):
        values_df(spark, [([1],)], "a array<long>")


@pytest.mark.parametrize("bad", [(1,), (1, "x", 2.0)])
def test_values_df_rejects_wrong_arity(spark, bad):
    with pytest.raises(ValueError, match=r"row 1 has \d values, expected 2 columns"):
        values_df(spark, [(0, "ok"), bad], "a long, b string")


@pytest.mark.parametrize(
    "ddl, bad",
    [
        ("a long", "1"),
        ("a long", True),
        ("a long", 1.5),
        ("a long", 1 << 63),
        ("a int", 1 << 31),
        ("a string", 1),
        ("a double", "1.0"),
        ("a boolean", 1),
        ("a array<double>", "12"),
        ("a array<double>", [1.0, "x"]),
    ],
)
def test_values_df_rejects_wrong_value_class(spark, ddl, bad):
    """A value whose class does not fit its column fails on the driver
    with a ValueError naming the row and the column, not in Arrow or the
    JVM."""
    with pytest.raises(ValueError, match=r"row 1 column 'a': .* is not a"):
        values_df(spark, [(None,), (bad,)], ddl)


def test_values_df_bit_identical_doubles(spark):
    """Doubles reach the JVM as Arrow buffers: NaN, -0.0, inf and
    subnormals come back with the same bits, in scalars and arrays,
    from tuples and from a pyarrow Table alike."""
    import math
    import struct

    import numpy as np
    import pyarrow as pa

    xs = [float("nan"), -0.0, 0.0, float("-inf"), 5e-324, 0.1, np.float64(1 / 3)]
    ddl = "i long, x double, v array<double>"
    bits = lambda x: struct.pack("<d", x)  # noqa: E731
    rows = [(np.int64(i), x, [x, -x]) for i, x in enumerate(xs)]
    table = pa.table({"i": range(len(xs)), "x": xs, "v": [[x, -x] for x in xs]})
    for src in (rows, table):
        got = sorted(values_df(spark, src, ddl).collect())
        assert [bits(r.x) for r in got] == [bits(x) for x in xs]
        assert [[bits(y) for y in r.v] for r in got] == [[bits(x), bits(-x)] for x in xs]
    assert math.isnan(got[0].x)
