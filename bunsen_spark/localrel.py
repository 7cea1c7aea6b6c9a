"""TRUE Catalyst LocalRelation frames from driver data.

``spark.createDataFrame(list)`` is RDD-backed in PySpark: the rows are
parallelized into ``defaultParallelism`` pickled partitions, so every
scan of a "tiny" driver-built table — a broadcast-join build, a
``collect()`` of a result frame — spawns one Python task per core at
~0.3 s of worker round-trips each (measured in the r14 Lloyd work: a
9 task-second stage for 128 rows). ``createDataFrame`` of a
``pyarrow.Table`` is a LocalRelation instead: collects are driver-only
(zero jobs) and broadcasts build without touching the cluster. This
module is the package's one LocalRelation builder: :func:`values_df`
for driver rows, :func:`empty_df` for an empty frame under a nested
spec schema (``tests/test_localrel.py`` fails on a ``createDataFrame``
call elsewhere).

The schema is built on the driver from :data:`_TYPES` (cached per DDL
string), so a frame costs no round trip to the JVM's DDL parser.

Value fidelity: the table goes to the JVM as Arrow buffers, so longs,
doubles (NaN, -0.0, inf included) and ``array<double>`` elements
arrive bit-identical — no text round trip (the trained k-means and PQ
codebooks are built this way)."""

from __future__ import annotations

from functools import lru_cache
from numbers import Integral, Real

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _integral(bits: int):
    lim = 1 << (bits - 1)
    return lambda v: isinstance(v, Integral) and not isinstance(v, bool) and -lim <= v < lim


def _real(v) -> bool:
    return isinstance(v, Real) and not isinstance(v, bool)


#: DDL type -> (Arrow type, Spark type, the check of one non-NULL value)
_TYPES = {
    "string": (pa.string(), T.StringType(), lambda v: isinstance(v, str)),
    "long": (pa.int64(), T.LongType(), _integral(64)),
    "int": (pa.int32(), T.IntegerType(), _integral(32)),
    "double": (pa.float64(), T.DoubleType(), _real),
    "boolean": (pa.bool_(), T.BooleanType(), lambda v: isinstance(v, (bool, np.bool_))),
    "array<double>": (
        pa.list_(pa.float64()),
        T.ArrayType(T.DoubleType()),
        lambda v: isinstance(v, (list, tuple, np.ndarray)) and all(x is None or _real(x) for x in v),
    ),
}
_TYPES["array<long>"] = (
    pa.list_(pa.int64()),
    T.ArrayType(T.LongType()),
    lambda v: isinstance(v, (list, tuple, np.ndarray)) and all(x is None or _TYPES["long"][2](x) for x in v),
)
_TYPES["bigint"] = _TYPES["long"]
_TYPES["integer"] = _TYPES["int"]


def _ddl_cols(ddl: str) -> list[tuple[str, str]]:
    cols = []
    for part in ddl.split(","):
        name, typ = part.strip().split()
        if typ.lower() not in _TYPES:
            raise ValueError(f"unsupported values_df type {typ!r}")
        cols.append((name, typ.lower()))
    return cols


@lru_cache(maxsize=256)
def _fields(ddl: str) -> tuple:
    """The nullable Spark fields of a :func:`values_df` DDL string, as
    the JVM's DDL parser would give them, built here from
    :data:`_TYPES` — no py4j round trip."""
    return tuple(T.StructField(name, _TYPES[typ][1]) for name, typ in _ddl_cols(ddl))


def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema of a :func:`values_df` DDL string."""
    return pa.schema([(name, _TYPES[typ][0]) for name, typ in _ddl_cols(ddl)])


def values_df(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A LocalRelation DataFrame for ``rows`` under a simple DDL schema
    (``"name type, name type"``; string/int/long/double/boolean,
    array<double> and array<long> columns only — the driver-built lookup/result tables
    and codebooks). ``rows`` is a sequence of tuples, or a
    ``pyarrow.Table`` with the DDL's column names (numpy-built result
    tables; Arrow casts it to the schema). A row whose length differs
    from the column count, or a non-NULL value whose class does not fit
    its column (a string or a bool in a long column, an out-of-range
    long), raises ``ValueError`` naming the row and the column. Empty
    ``rows`` gives an empty LocalRelation."""
    cols = _ddl_cols(ddl)
    if not isinstance(rows, pa.Table):
        rows = list(rows)
        for i, row in enumerate(rows):
            if len(row) != len(cols):
                raise ValueError(
                    f"row {i} has {len(row)} values, expected {len(cols)} columns ({ddl})"
                )
            for v, (name, typ) in zip(row, cols):
                if v is not None and not _TYPES[typ][2](v):
                    raise ValueError(f"row {i} column {name!r}: {v!r} is not a {typ} value")
        rows = pa.table(
            [pa.array([r[j] for r in rows], _TYPES[t][0]) for j, (_, t) in enumerate(cols)],
            names=[n for n, _ in cols],
        )
    return spark.createDataFrame(rows, T.StructType(list(_fields(ddl))))


def empty_df(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """An empty LocalRelation under any ``schema``, nested spec schemas
    included (the empty terminology collections)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)
