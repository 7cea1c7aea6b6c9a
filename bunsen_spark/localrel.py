"""TRUE Catalyst LocalRelation frames from driver data.

``spark.createDataFrame(list)`` is RDD-backed in PySpark: the rows are
parallelized into ``defaultParallelism`` pickled partitions, so every
scan of a "tiny" driver-built table — a broadcast-join build, a
``collect()`` of a result frame — spawns one Python task per core at
~0.3 s of worker round-trips each (measured in the r14 Lloyd work: a
9 task-second stage for 128 rows). ``createDataFrame`` of a
``pyarrow.Table`` is a LocalRelation instead: collects are driver-only
(zero jobs) and broadcasts build without touching the cluster.

Value fidelity: the table goes to the JVM as Arrow buffers, so longs,
doubles (NaN, -0.0, inf included) and ``array<double>`` elements
arrive bit-identical — no text round trip (the trained k-means and PQ
codebooks are built this way)."""

from __future__ import annotations

from numbers import Integral, Real

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession


def _integral(bits: int):
    lim = 1 << (bits - 1)
    return lambda v: isinstance(v, Integral) and not isinstance(v, bool) and -lim <= v < lim


def _real(v) -> bool:
    return isinstance(v, Real) and not isinstance(v, bool)


#: DDL type -> (Arrow type, the check of one non-NULL value)
_TYPES = {
    "string": (pa.string(), lambda v: isinstance(v, str)),
    "long": (pa.int64(), _integral(64)),
    "int": (pa.int32(), _integral(32)),
    "double": (pa.float64(), _real),
    "boolean": (pa.bool_(), lambda v: isinstance(v, (bool, np.bool_))),
    "array<double>": (
        pa.list_(pa.float64()),
        lambda v: isinstance(v, (list, tuple, np.ndarray)) and all(x is None or _real(x) for x in v),
    ),
}
_TYPES["bigint"] = _TYPES["long"]
_TYPES["integer"] = _TYPES["int"]
_TYPES["varchar"] = _TYPES["string"]


def values_df(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A LocalRelation DataFrame for ``rows`` under a simple DDL schema
    (``"name type, name type"``; string/int/long/double/boolean and
    array<double> columns only — the driver-built lookup/result tables
    and codebooks). ``rows`` is a sequence of tuples, or a
    ``pyarrow.Table`` with the DDL's column names (numpy-built result
    tables; Arrow casts it to the schema). A row whose length differs
    from the column count, or a non-NULL value whose class does not fit
    its column (a string or a bool in a long column, an out-of-range
    long), raises ``ValueError`` naming the row and the column. Empty
    ``rows`` gives an empty LocalRelation."""
    cols = []
    for part in ddl.split(","):
        name, typ = part.strip().split()
        if typ.lower() not in _TYPES:
            raise ValueError(f"unsupported values_df type {typ!r}")
        cols.append((name, typ.lower()))
    if not isinstance(rows, pa.Table):
        rows = list(rows)
        for i, row in enumerate(rows):
            if len(row) != len(cols):
                raise ValueError(
                    f"row {i} has {len(row)} values, expected {len(cols)} columns ({ddl})"
                )
            for v, (name, typ) in zip(row, cols):
                if v is not None and not _TYPES[typ][1](v):
                    raise ValueError(f"row {i} column {name!r}: {v!r} is not a {typ} value")
        rows = pa.table(
            [pa.array([r[j] for r in rows], _TYPES[t][0]) for j, (_, t) in enumerate(cols)],
            names=[n for n, _ in cols],
        )
    return spark.createDataFrame(rows, ddl)
