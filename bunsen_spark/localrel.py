"""TRUE Catalyst LocalRelation frames from driver data.

``spark.createDataFrame(list)`` is RDD-backed in PySpark: the rows are
parallelized into ``defaultParallelism`` pickled partitions, so every
scan of a "tiny" driver-built table — a broadcast-join build, a
``collect()`` of a result frame — spawns one Python task per core at
~0.3 s of worker round-trips each (measured in the r14 Lloyd work: a
9 task-second stage for 128 rows). A SQL ``VALUES`` inline table folds
to a LocalRelation instead: collects are driver-only (zero jobs) and
broadcasts build without touching the cluster.

Literal fidelity: strings are backslash-escaped for the default parser
mode; integers are exact; doubles are embedded as ``CAST('<repr>' AS
DOUBLE)`` — ``repr`` is the shortest round-trip form and string→double
casts are correctly rounded, so values are bit-identical to the
``createDataFrame`` row they replace; an ``array<double>`` is an
``array(...)`` of those literals (the trained k-means and PQ codebooks
are built this way)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_SQL_TYPES = {
    "string": "STRING",
    "varchar": "STRING",
    "long": "BIGINT",
    "bigint": "BIGINT",
    "int": "INT",
    "integer": "INT",
    "double": "DOUBLE",
    "boolean": "BOOLEAN",
    "array<double>": "ARRAY<DOUBLE>",
}


def _lit(v, sql_type: str) -> str:
    if v is None:
        return f"CAST(NULL AS {sql_type})"
    if sql_type == "STRING":
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    if sql_type in ("BIGINT", "INT"):
        return f"CAST({int(v)} AS {sql_type})"
    if sql_type == "DOUBLE":
        return f"CAST('{float(v)!r}' AS DOUBLE)"
    if sql_type == "BOOLEAN":
        return "true" if bool(v) else "false"
    if sql_type == "ARRAY<DOUBLE>":
        if not len(v):
            return "CAST(array() AS ARRAY<DOUBLE>)"
        return "array(" + ",".join(_lit(x, "DOUBLE") for x in v) + ")"
    raise ValueError(f"unsupported VALUES type {sql_type!r}")


def values_df(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A LocalRelation DataFrame for ``rows`` under a simple DDL schema
    (``"name type, name type"``; string/int/long/double/boolean and
    array<double> columns only — exactly the driver-built
    lookup/result tables and codebooks this replaces). A row whose
    length differs from the column count raises ``ValueError``. Falls back to ``createDataFrame`` for an empty ``rows``
    (VALUES requires at least one tuple)."""
    cols = []
    for part in ddl.split(","):
        name, typ = part.strip().split()
        sql_type = _SQL_TYPES.get(typ.lower())
        if sql_type is None:
            raise ValueError(f"unsupported VALUES type {typ!r}")
        cols.append((name, sql_type))
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], ddl)
    for i, row in enumerate(rows):
        if len(row) != len(cols):
            raise ValueError(
                f"row {i} has {len(row)} values, expected {len(cols)} columns ({ddl})"
            )
    body = ",".join(
        "(" + ",".join(_lit(v, t) for v, (_, t) in zip(row, cols)) + ")"
        for row in rows
    )
    names = ", ".join(n for n, _ in cols)
    return spark.sql(f"SELECT * FROM VALUES {body} AS t({names})")
