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


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_empty_collections_are_local_relations(spark):
    """The empty terminology collections are LocalRelations: no
    RDD-backed partitions for later unions over them to scan."""
    from bunsen_spark.localrel import empty_df
    from bunsen_spark.operators.concept_maps import ConceptMaps
    from bunsen_spark.operators.hierarchies import Hierarchies
    from bunsen_spark.operators.value_sets import ValueSets
    from bunsen_spark.schema import spark_schema_for

    vs, cm = ValueSets.empty(spark), ConceptMaps.empty(spark)
    frames = [vs.value_sets, vs.values, cm.concept_maps, cm.mappings, Hierarchies.empty(spark).ancestors]
    for df in frames:
        assert "LogicalRDD" not in _plan(df)
        assert "LocalRelation" in _plan(df)
        assert df.collect() == []
    assert vs.value_sets.schema == spark_schema_for("ValueSet")
    assert cm.concept_maps.schema == spark_schema_for("ConceptMap")
    assert empty_df(spark, spark_schema_for("ValueSet")).schema == spark_schema_for("ValueSet")


#: The modules under bunsen_spark/ allowed to call ``createDataFrame``:
#: the LocalRelation builders themselves, and the one-slice media
#: synthesizer (its comment gives the reason), by enclosing function.
_CREATE_DATAFRAME_ALLOWED = {
    "localrel.py": {"values_df", "empty_df"},
    "operators/multimodal.py": {"synthesize_media"},
}


def _create_dataframe_calls(node, func="<module>"):
    """(line, enclosing function name) of each ``.createDataFrame(...)``
    call under ``node``."""
    import ast

    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _create_dataframe_calls(child, child.name)
            continue
        if (
            isinstance(child, ast.Call)
            and isinstance(child.func, ast.Attribute)
            and child.func.attr == "createDataFrame"
        ):
            yield child.lineno, func
        yield from _create_dataframe_calls(child, func)


def test_driver_frames_go_through_localrel():
    """``spark.createDataFrame(<python list>)`` is RDD-backed: its rows
    become ``defaultParallelism`` pickled partitions that every later
    scan pays for. Driver-built frames go through ``localrel`` instead."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent / "bunsen_spark"
    found = [
        f"{path.relative_to(root).as_posix()}:{line} in {func}"
        for path in sorted(root.rglob("*.py"))
        for line, func in _create_dataframe_calls(ast.parse(path.read_text()))
        if func not in _CREATE_DATAFRAME_ALLOWED.get(path.relative_to(root).as_posix(), ())
    ]
    assert not found, (
        "createDataFrame outside bunsen_spark/localrel.py; build driver frames with "
        f"localrel.values_df (or localrel.empty_df for an empty spec schema): {found}"
    )
