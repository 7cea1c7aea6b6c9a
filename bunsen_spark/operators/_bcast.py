"""Shared row-cap gate for HINT-FORCED broadcasts (ADVICE r14 close-out).

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


def broadcast_row_cap(spark: SparkSession, default_rows: int) -> int:
    thr = _threshold_bytes(spark)
    if thr <= 0:
        return 0
    return max(1, int(default_rows * thr / _REFERENCE_THRESHOLD))
