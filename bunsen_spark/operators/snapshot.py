"""Dataset snapshot diff — the data-versioning primitive of a managed
corpus: what changed between two releases of the same keyed table.

Beyond-reference scale extension (SURVEY §7 M7 family). A training-data
warehouse re-releases its corpus (new crawl, re-filtered, re-scrubbed);
downstream consumers need the delta — which documents appeared,
disappeared, or changed content — without diffing text by hand.

Plan shape: one full outer join on the key with a direct column-wise
comparison — a single shuffle on the key for each side, no text
hashing required (the comparison runs JVM-side inside the join's
generated code; rows that differ in ANY compared column are
``changed``). At 100 TB both snapshots shuffle once; if the snapshots
are stored bucketed by the key (`sources/warehouse.py`), the join is
co-partitioned and shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """Rows of the keyed delta between two snapshots: ``(key, status)``
    with status ∈ {added, removed, changed}. Unchanged rows are
    omitted (the overwhelming majority at scale — the output is the
    delta, not the corpus). NULL-safe comparison (``<=>``): a column
    going NULL→value or value→NULL counts as changed.
    """
    if not compare_cols:
        raise ValueError("compare_cols must be non-empty")
    o = old.select(key, *compare_cols).alias("o")
    n = new.select(key, *compare_cols).alias("n")
    same = None
    for c in compare_cols:
        eq = F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        same = eq if same is None else (same & eq)
    joined = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
    status = (
        F.when(F.col(f"o.{key}").isNull(), F.lit("added"))
        .when(F.col(f"n.{key}").isNull(), F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    return (
        joined.select(
            F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}")).alias(key),
            status.alias("status"),
        )
        .where(F.col("status").isNotNull())
    )


def scd2_apply(
    dim: DataFrame,
    snapshot: DataFrame,
    key: str,
    compare_cols: list[str],
    new_ts: int,
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: roll a versioned
    dimension table forward to a new FULL snapshot.

    ``dim`` carries ``(key, *compare_cols, valid_from, valid_to)``
    with ``valid_to IS NULL`` marking the open version of each key;
    ``snapshot`` carries ``(key, *compare_cols)`` — the complete new
    state. Full-snapshot semantics: an open key missing from the
    snapshot is closed (a delete); a changed payload closes the old
    version and opens a new one at ``new_ts``; an unchanged payload
    passes through still open; a brand-new key opens its first
    version. Closed historic rows pass through untouched.

    Plan shape: ONE full-outer join of the open rows against the
    snapshot on the key, then a single ``explode`` of a per-row array
    of 1-2 output versions built inside the join's projection — the
    classic union-of-three-cases formulation would re-run the join per
    branch; the generator does it in one pass. Historic (already
    closed) rows union in from a separate filter of ``dim`` that never
    joins. One shuffle per side at 100 TB — and zero if both tables
    are stored bucketed by the key (`sources/warehouse.py`); the
    output row count is bounded by ``|dim| + |snapshot|``.
    """
    if not compare_cols:
        raise ValueError("compare_cols must be non-empty")
    payload = list(compare_cols)
    o = dim.where(F.col("valid_to").isNull()).alias("o")
    n = snapshot.alias("n")
    same = None
    for c in payload:
        eq = F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        same = eq if same is None else (same & eq)

    def version(side: str, valid_from, valid_to) -> F.Column:
        return F.struct(
            *[F.col(f"{side}.{c}").alias(c) for c in payload],
            valid_from.cast("long").alias("valid_from"),
            valid_to.cast("long").alias("valid_to"),
        )

    ts = F.lit(new_ts)
    null_ts = F.lit(None).cast("long")
    versions = (
        # key deleted: close the open row
        F.when(
            F.col(f"n.{key}").isNull(),
            F.array(version("o", F.col("o.valid_from"), ts)),
        )
        # key inserted: open its first version
        .when(
            F.col(f"o.{key}").isNull(),
            F.array(version("n", ts, null_ts)),
        )
        # unchanged: keep the open row as-is
        .when(same, F.array(version("o", F.col("o.valid_from"), null_ts)))
        # changed: close the old version, open the new one
        .otherwise(
            F.array(
                version("o", F.col("o.valid_from"), ts),
                version("n", ts, null_ts),
            )
        )
    )
    merged = (
        o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
        .select(
            F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}")).alias(key),
            F.explode(versions).alias("v"),
        )
        .select(key, "v.*")
    )
    historic = dim.where(F.col("valid_to").isNotNull()).select(
        key,
        *payload,
        F.col("valid_from").cast("long").alias("valid_from"),
        F.col("valid_to").cast("long").alias("valid_to"),
    )
    return historic.unionByName(merged)


def scd2_apply_sql(
    dim_sql: str,
    snapshot_sql: str,
    key: str,
    compare_cols: list[str],
    new_ts: int,
) -> str:
    """DuckDB twin of :func:`scd2_apply` — the union-of-cases
    formulation (clarity over efficiency; the oracle only runs at gate
    scale)."""
    cols = ", ".join(compare_cols)
    same = " AND ".join(
        f"(o.{c} IS NOT DISTINCT FROM n.{c})" for c in compare_cols
    )
    o_cols = ", ".join(f"o.{c}" for c in compare_cols)
    n_cols = ", ".join(f"n.{c}" for c in compare_cols)
    return f"""
WITH dim AS ({dim_sql}), snap AS ({snapshot_sql}),
open_rows AS (SELECT * FROM dim WHERE valid_to IS NULL),
closed AS (
  SELECT {key}, {cols}, CAST(valid_from AS BIGINT) AS valid_from,
         CAST(valid_to AS BIGINT) AS valid_to
  FROM dim WHERE valid_to IS NOT NULL
)
SELECT {key}, {cols}, valid_from, valid_to FROM (
  -- deleted or changed: close the open version
  SELECT o.{key}, {o_cols}, CAST(o.valid_from AS BIGINT) AS valid_from,
         CAST({new_ts} AS BIGINT) AS valid_to
  FROM open_rows o LEFT JOIN snap n ON o.{key} = n.{key}
  WHERE n.{key} IS NULL OR NOT ({same})
  UNION ALL
  -- unchanged: keep open
  SELECT o.{key}, {o_cols}, CAST(o.valid_from AS BIGINT),
         CAST(NULL AS BIGINT)
  FROM open_rows o JOIN snap n ON o.{key} = n.{key}
  WHERE ({same})
  UNION ALL
  -- inserted or changed: open the new version
  SELECT n.{key}, {n_cols}, CAST({new_ts} AS BIGINT),
         CAST(NULL AS BIGINT)
  FROM snap n LEFT JOIN open_rows o ON o.{key} = n.{key}
  WHERE o.{key} IS NULL OR NOT ({same})
  UNION ALL
  SELECT * FROM closed
)
"""
