"""The library's broadcast decisions: the one gather-or-scatter rule
(:func:`gathers`) and the row-cap gate for HINT-FORCED broadcasts.

:func:`gathers` decides, from plan statistics alone, whether an input
is small enough to bring into one process: the driver gathers it with
one ``toArrow()`` and then either computes on it there (the ANN
searches) or broadcasts it (exact embedding dedup). Each caller passes
its own measured compute cap; the auto-broadcast threshold is the
shared memory guard.

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

from pyspark.sql import DataFrame, SparkSession

#: threshold the per-operator row defaults were sized against
_REFERENCE_THRESHOLD = 64 * 1024 * 1024


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


def broadcast_row_cap(spark: SparkSession, default_rows: int) -> int:
    thr = _threshold_bytes(spark)
    if thr <= 0:
        return 0
    return max(1, int(default_rows * thr / _REFERENCE_THRESHOLD))
