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


def test_values_df_schema_matches_ddl_parser(spark):
    """``values_df`` builds its schema on the driver from ``_TYPES``
    (cached per DDL string, no round trip to the JVM's DDL parser): for
    every supported type name, in any case, it is the schema the parser
    gives, and a built frame's schema is its own object."""
    from bunsen_spark.localrel import _TYPES

    ddl = ", ".join(f"c{i} {t.upper() if i % 2 else t}" for i, t in enumerate(_TYPES))
    want = spark.createDataFrame([], ddl).schema
    assert values_df(spark, [], ddl).schema == want
    assert values_df(spark, [], ddl).schema is not values_df(spark, [], ddl).schema


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
        values_df(spark, [(["x"],)], "a array<string>")


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


#: The single paths: each guarded call attribute, the enclosing
#: (module, function) pairs under bunsen_spark/ allowed to call it, and
#: what to do instead.
_SINGLE_PATHS = {
    # ``spark.createDataFrame(<python list>)`` is RDD-backed: its rows
    # become ``defaultParallelism`` pickled partitions that every later
    # scan pays for. The LocalRelation builders may call it, and so may
    # the one-slice media synthesizer (its comment gives the reason).
    "createDataFrame": (
        {"localrel.py": {"values_df", "empty_df"}, "operators/multimodal.py": {"synthesize_media"}},
        "createDataFrame outside bunsen_spark/localrel.py; build driver frames with "
        "localrel.values_df (or localrel.empty_df for an empty spec schema)",
    ),
    # a Hadoop-FS glob is how a batch_id-partitioned table is probed
    "globStatus": (
        {"persist.py": {"has_committed_batches"}},
        "globStatus outside persist.has_committed_batches; probe a batch_id-partitioned "
        "table with persist.has_committed_batches",
    ),
    # a whole input comes to the driver through one gather, which reads
    # a plain Parquet corpus without a job; the scatter side collects
    # only its query rows and its top-k partials
    "toArrow": (
        {
            "operators/_bcast.py": {"gather"},
            "operators/similarity.py": {"_query_rows", "_on_batches"},
        },
        "toArrow outside operators/_bcast.gather; gather a whole input with _bcast.gather",
    ),
    # a per-batch Arrow pass over a placed scan input runs through the
    # one runner, which runs it on the driver over a gathered table or
    # scatters it; exact embedding dedup scores its blocks in its own
    # pass
    "mapInArrow": (
        {"operators/similarity.py": {"_on_batches"}, "operators/dedup.py": {"embedding_near_dup_pairs"}},
        "mapInArrow outside similarity._on_batches; run a per-batch pass over a scan input "
        "through _on_batches",
    ),
    # positional appends into the terminology warehouse, after its
    # (uri, version) check
    "insertInto": (
        {"operators/_terminology.py": {"write_partitioned"}},
        "insertInto outside operators/_terminology.write_partitioned; land terminology "
        "tables through write_partitioned",
    ),
    # matrix products (``@``, ``.matmul(``, ``.dot(``): the ANN kernel
    # runs on the driver, which has no OMP_NUM_THREADS, so a float
    # product goes to OpenBLAS, whose threads spin after every call. The
    # JL and label-centroid scorers multiply int64 matrices, which numpy
    # never hands to BLAS; exact embedding dedup's float product runs in
    # Python workers, which Spark gives one thread.
    "@": (
        {
            "operators/similarity.py": {"_jl_scorer", "_jl_scorer.score", "_centroid_scorer.score"},
            "operators/dedup.py": {"_cosine_pairs"},
        },
        "a matrix product (@, np.matmul, np.dot) outside the int64 JL and label-centroid "
        "scorers; on the driver a float one calls OpenBLAS, whose threads spin after each "
        "call (measured on 4 cores: one 32x64 by 64x5,000 product, then 100 ms idle, cost "
        "103 ms of process CPU against 6.1 ms for np.einsum(optimize=False)); screen with "
        "a non-BLAS einsum",
    ),
}


def _calls(node, attr, func="<module>"):
    """(line, enclosing function) of each ``.<attr>(...)`` call under
    ``node``, a nested function named by its dotted path
    (``_jl_scorer.score``); for ``"@"``, of each matrix product: the
    operator and ``.matmul(...)`` / ``.dot(...)`` calls."""
    import ast

    names = ("matmul", "dot") if attr == "@" else (attr,)
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            path = child.name if func == "<module>" else f"{func}.{child.name}"
            yield from _calls(child, attr, path)
            continue
        if (
            isinstance(child, ast.Call)
            and isinstance(child.func, ast.Attribute)
            and child.func.attr in names
        ) or (
            attr == "@"
            and isinstance(child, (ast.BinOp, ast.AugAssign))
            and isinstance(child.op, ast.MatMult)
        ):
            yield child.lineno, func
        yield from _calls(child, attr, func)


def _assert_single_path(attr):
    import ast
    from pathlib import Path

    allowed, message = _SINGLE_PATHS[attr]
    root = Path(__file__).resolve().parent.parent / "bunsen_spark"
    found = [
        f"{path.relative_to(root).as_posix()}:{line} in {func}"
        for path in sorted(root.rglob("*.py"))
        for line, func in _calls(ast.parse(path.read_text()), attr)
        if func not in allowed.get(path.relative_to(root).as_posix(), ())
    ]
    assert not found, f"{message}: {found}"


def test_driver_frames_go_through_localrel():
    """Driver-built frames go through ``localrel``."""
    _assert_single_path("createDataFrame")


def test_one_batch_runner():
    """Every per-batch Arrow pass of the similarity module — the top-k
    scan, each Lloyd round, the encode and vote passes, the label sums
    — goes through ``_on_batches``, so none brings back a scatter branch
    of its own."""
    _assert_single_path("mapInArrow")


@pytest.mark.parametrize("attr", ["globStatus", "insertInto"])
def test_one_probe_and_one_terminology_writer(attr):
    """The batch-table probe and the terminology warehouse writer each
    have one home."""
    _assert_single_path(attr)


def test_no_blas_on_the_driver():
    """No float matrix product runs on the driver: ``@``, ``np.matmul``
    and ``np.dot`` appear only in the int64 JL and label-centroid
    scorers (and in embedding dedup's executor-side pair scoring)."""
    _assert_single_path("@")


def test_one_whole_input_gather():
    """Whole inputs come to the driver only through ``_bcast.gather``;
    the ANN scatter side's query collect and the batch runner's
    partials collect are the other ``toArrow()`` calls."""
    _assert_single_path("toArrow")


#: The Spark-side ranking tools, and the functions of
#: operators/similarity.py that may name one: no function a window, and
#: only gram_matrix's cell aggregate, which ranks nothing, posexplode.
_SPARK_RANK_TOOLS = ("Window", "posexplode")
_SPARK_RANK_HOMES = {
    "posexplode": {"gram_matrix"},
}


def _names(node, func="<module>"):
    """(identifier, line, enclosing function name) of each name and
    attribute reference under ``node``."""
    import ast

    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _names(child, child.name)
            continue
        if isinstance(child, ast.Name):
            yield child.id, child.lineno, func
        elif isinstance(child, ast.Attribute):
            yield child.attr, child.lineno, func
        yield from _names(child, func)


def test_ann_members_rank_through_the_kernel():
    """Every ANN member, PQ and IVF-PQ included, ranks through
    ``_topk_scan`` and ``_rank_topk``: no function in
    operators/similarity.py names a Spark window, and only gram_matrix
    names posexplode, so a new member cannot bring back a Spark-side
    rank."""
    import ast
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "bunsen_spark" / "operators" / "similarity.py"
    found = [
        f"similarity.py:{line} {name} in {func}"
        for name, line, func in _names(ast.parse(path.read_text()))
        if name in _SPARK_RANK_TOOLS and func not in _SPARK_RANK_HOMES.get(name, ())
    ]
    assert not found, found
