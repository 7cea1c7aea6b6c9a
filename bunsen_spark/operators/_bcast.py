"""The library's broadcast decisions: the one gather-or-scatter rule
(:func:`gathers`), the one whole-input gather (:func:`gather`) and the
row-cap gate for HINT-FORCED broadcasts.

:func:`gathers` decides, from plan statistics alone, whether an input
is small enough to bring into one process; :func:`gather` then brings
it there, and the caller either computes on it on the driver (the ANN
searches) or broadcasts it (exact embedding dedup). Each caller passes
its own measured compute cap; the auto-broadcast threshold is the
shared memory guard. At these sizes the cost of a gather is the Spark
job, not the data, so an input whose plan is only columns of local
Parquet files is read on the driver with ``pyarrow.parquet`` and runs
no job; any other input is collected with one ``toArrow()``. A column
may be a ``Cast`` of a float or double array to ``array<double>`` —
the ANN scan input's ``embedding`` — which an Arrow cast widens to the
same doubles as Spark's, so the callers gather the very frame whose
size they measured. Any other cast (from integer elements, to
``array<float>``, to a string, of a scalar column) is collected by
Spark.

A repeated search over one corpus gathers the same frame again (the
ANN callers memoize their scan frame per input frame), so two facts
are kept: :func:`_parquet_columns`' plan walk, weakly per frame (the
conf it depends on is read on every call), and :func:`gather`'s most
recent Parquet read, in one slot keyed on the frame and its files'
``(path, st_size, st_mtime_ns)``, so at most one gathered table is
held.

The fixpoint/verify operators broadcast node-sized relations (labels,
ranks, candidate pairs) whose built size deliberately exceeds the
auto-broadcast threshold — that is the point of the hint. But the row
caps those hints honor must still TRACK the cluster's memory posture,
not just treat ``spark.sql.autoBroadcastJoinThreshold`` as an on/off
switch: a memory-tight cluster that lowered the threshold should get a
proportionally lower hint budget, not a fixed few-hundred-MB relation
(ADVICE r13 #2).

Semantics of :func:`broadcast_row_cap`:

- auto-broadcast disabled (threshold ``-1``/``0``) → cap 0: "never
  broadcast" stays one switch.
- otherwise → the operator's default row cap scaled by
  ``threshold / 64 MB`` — 64 MB being the reference threshold the row
  defaults were sized against (session.py). A cluster at the stock
  10 MB threshold gets ~16% of the default cap; one that raised the
  threshold gets proportionally more. The scaling never exceeds the
  stated default by more than the threshold ratio, so the documented
  "few hundred MB built" contract degrades gracefully instead of
  silently forcing it on tight executors.
"""

from __future__ import annotations

import os
import weakref
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

#: threshold the per-operator row defaults were sized against
_REFERENCE_THRESHOLD = 64 * 1024 * 1024

_PROJECT = "org.apache.spark.sql.catalyst.plans.logical.Project"
_RELATION = "org.apache.spark.sql.execution.datasources.LogicalRelation"
_FS_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"
_PARQUET = "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat"
_ATTRIBUTE = "org.apache.spark.sql.catalyst.expressions.AttributeReference"
_ALIAS = "org.apache.spark.sql.catalyst.expressions.Alias"
_CAST = "org.apache.spark.sql.catalyst.expressions.Cast"


def _threshold_bytes(spark: SparkSession) -> int:
    thr = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    mult = 1
    for suffix, m in (
        ("kb", 1024), ("mb", 1024**2), ("gb", 1024**3), ("tb", 1024**4),
        ("k", 1024), ("m", 1024**2), ("g", 1024**3), ("t", 1024**4),
        ("b", 1),
    ):
        if thr.endswith(suffix):
            thr = thr[: -len(suffix)]
            mult = m
            break
    try:
        return int(float(thr) * mult)
    except ValueError:
        return 0


def plan_size_bytes(df: DataFrame) -> int | None:
    """``df``'s optimized-plan ``sizeInBytes``, or None when the plan
    has no real estimate (an RDD-backed frame reports
    ``spark.sql.defaultSizeInBytes`` or more). Driver-only: reads plan
    statistics and launches no job."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return None if size >= conf.defaultSizeInBytes() else size


def gathers(df: DataFrame, cap: int | None = None) -> bool:
    """The gather-or-scatter rule: True when ``df``'s optimized-plan
    ``sizeInBytes`` is known (:func:`plan_size_bytes`) and at most both
    ``spark.sql.autoBroadcastJoinThreshold`` (the memory guard: what
    Spark itself would ship to one process) and ``cap`` (the caller's
    measured compute crossover; None for none). A threshold ≤ 0
    (broadcasts disabled), or a plan with no real estimate, scatters.
    Driver-only: reads plan statistics, runs no job."""
    size = plan_size_bytes(df)
    limit = _threshold_bytes(df.sparkSession)
    if cap is not None:
        limit = min(limit, cap)
    return size is not None and 0 < limit and size <= limit


def _class(obj) -> str:
    return obj.getClass().getName()


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _plain(dt) -> bool:
    """An integral or floating Spark type, or an array of one: the
    types whose Parquet values Spark and pyarrow read alike, whatever
    the session's conf."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        dt = dt.elementType
    return isinstance(
        dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType)
    )


def _widens(src, out) -> bool:
    """Whether a ``Cast`` from ``src`` to ``out`` is one an Arrow cast
    reproduces bit for bit: a float or double array to ``array<double>``
    (IEEE widening is exact, -0.0 included; double to double is the
    identity)."""
    from pyspark.sql import types as T

    return (
        isinstance(src, T.ArrayType)
        and isinstance(src.elementType, (T.FloatType, T.DoubleType))
        and out == T.ArrayType(T.DoubleType())
    )


#: frame → its :func:`_parquet_columns` plan walk
_PARQUET_FACTS: "weakref.WeakKeyDictionary[DataFrame, tuple | None]" = weakref.WeakKeyDictionary()


def _parquet_columns(df: DataFrame):
    """``(paths, [(file column, output name)], file schema, schema)``
    when ``df``'s optimized plan is a plain Parquet relation — exactly
    ``ParquetFileFormat`` (no subclass), no partition columns, only
    ``file:`` inputs — under at most one ``Project`` of attribute
    references, aliases of them and aliases of a :func:`_widens` cast
    of one, every read column of a :func:`_plain` type, and Spark
    matching Parquet columns by name (as it does unless
    ``spark.sql.parquet.fieldId.read.enabled`` is set); else None. The
    schemas are ``to_arrow_schema`` of the read columns' types and of
    ``df``'s. Driver-only: reads the conf on every call, and the plan
    and the file index once per frame — a frame's optimized plan and
    its ``InMemoryFileIndex`` listing never change, so the walk is
    memoized weakly per frame."""
    by_field_id = df.sparkSession.conf.get("spark.sql.parquet.fieldId.read.enabled", "false")
    if by_field_id.lower() == "true":
        return None
    if df not in _PARQUET_FACTS:
        _PARQUET_FACTS[df] = _walk_parquet_plan(df)
    return _PARQUET_FACTS[df]


def _walk_parquet_plan(df: DataFrame):
    """:func:`_parquet_columns` less its conf check: the walk of
    ``df``'s optimized plan and file index."""
    from urllib.parse import unquote, urlparse

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructField, StructType, _parse_datatype_json_string

    plan = df._jdf.queryExecution().optimizedPlan()
    project = None
    if _class(plan) == _PROJECT:
        project, plan = _seq(plan.projectList()), plan.child()
    if _class(plan) != _RELATION or _class(plan.relation()) != _FS_RELATION:
        return None
    relation = plan.relation()
    if _class(relation.fileFormat()) != _PARQUET or relation.partitionSchema().length():
        return None

    def dtype(e):
        return _parse_datatype_json_string(e.dataType().json())

    cols = []
    for expr in project if project is not None else _seq(plan.output()):
        out = expr.child() if _class(expr) == _ALIAS else expr
        attr = out.child() if _class(out) == _CAST else out
        if _class(attr) != _ATTRIBUTE:
            return None
        cols.append((attr.name(), expr.name(), dtype(attr), dtype(out)))
    if not all(_plain(src) and (src == out or _widens(src, out)) for _, _, src, out in cols):
        return None
    uris = [urlparse(u) for u in relation.location().inputFiles()]
    if any(u.scheme != "file" or u.netloc not in ("", "localhost") for u in uris):
        return None

    def arrow(i):
        return to_arrow_schema(StructType([StructField(c[1], c[i]) for c in cols]))

    return [unquote(u.path) for u in uris], [(src, out) for src, out, _, _ in cols], arrow(2), arrow(3)


def _read_parquet(paths: list[str], cols: list[tuple[str, str]], stored_as, schema):
    """The ``cols`` of the Parquet files ``paths`` as one Arrow table
    with ``schema``, read one file at a time and only the read columns,
    each Arrow-cast from its ``stored_as`` type to its ``schema`` type
    (an exact widening, :func:`_widens`, or the identity); None when a
    file lacks a column under its exact name (or has it twice, ignoring
    case) or stores it as another Arrow type than ``stored_as`` gives,
    or cannot be read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    srcs = list(dict.fromkeys(src for src, _ in cols))
    want = {src: stored_as.field(i).type for i, (src, _) in enumerate(cols)}
    tables = []
    try:
        for path in paths:
            with pq.ParquetFile(path) as f:
                stored = f.schema_arrow
                lower = [n.lower() for n in stored.names]
                for src in srcs:
                    if lower.count(src.lower()) != 1 or src not in stored.names:
                        return None
                    if stored.field(src).type != want[src]:
                        return None
                t = f.read(columns=srcs)
            # from_arrays casts each column to its schema type
            tables.append(pa.Table.from_arrays([t[src] for src, _ in cols], schema=schema))
    except (OSError, pa.ArrowException):
        return None
    return pa.concat_tables(tables) if tables else schema.empty_table()


class _Gathered(NamedTuple):
    """:func:`gather`'s slot: the frame it read, its files' stats
    before the read, and the table read."""

    frame: weakref.ref
    stats: tuple
    table: object


#: the most recent Parquet read of :func:`gather`, or None
_last: _Gathered | None = None


def _forget(frame: weakref.ref) -> None:
    """Empty :func:`gather`'s slot when the frame it holds is collected."""
    global _last
    if _last is not None and _last.frame is frame:
        _last = None


def _file_stats(paths: list[str]) -> tuple | None:
    """Each file's ``(path, st_size, st_mtime_ns)``, or None when one
    cannot be stat'ed."""
    stats = []
    try:
        for path in paths:
            st = os.stat(path)
            stats.append((path, st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return tuple(stats)


def gather(df: DataFrame) -> "pyarrow.Table":
    """``df``'s rows as one ``pyarrow.Table`` on the driver: the
    library's one whole-input gather, for an input :func:`gathers`
    accepted. When the optimized plan proves ``df`` is only columns of
    local Parquet files, some widened to ``array<double>``
    (:func:`_parquet_columns`), and every file stores each read column
    under its name as the Arrow type Spark's column type maps to, the
    files are read here with ``pyarrow.parquet`` and the widened
    columns Arrow-cast — the same values, no Spark job. Any other
    input, or any failed check, is ``df.toArrow()`` (one job,
    ``spark.driver.maxResultSize`` still guards it). Row order is not
    part of the contract.

    The Parquet read is kept in one slot for the next call: the same
    frame (by identity) whose files all still stat to the same
    ``(path, st_size, st_mtime_ns)`` gets the same table back, no read.
    The file listing is the frame's, fixed when it was read, so a stat
    is all a reuse needs; a mismatch or a stat error reads again. The
    slot is emptied before each file read and when its frame is
    collected; ``toArrow()`` results are never kept. Tables are
    immutable, so callers share the kept one."""
    global _last
    found = _parquet_columns(df)
    if found is None:
        return df.toArrow()
    stats = _file_stats(found[0])
    last = _last
    if stats is not None and last is not None and last.frame() is df and last.stats == stats:
        return last.table
    _last = None
    table = _read_parquet(*found)
    if table is None:
        return df.toArrow()
    if stats is not None:
        _last = _Gathered(weakref.ref(df, _forget), stats, table)
    return table


def broadcast_row_cap(spark: SparkSession, default_rows: int) -> int:
    thr = _threshold_bytes(spark)
    if thr <= 0:
        return 0
    return max(1, int(default_rows * thr / _REFERENCE_THRESHOLD))
