"""Streaming type-2 SCD maintenance — the dimension-table counterpart
of `streaming/ingest.py:stream_near_dup_filter`: a stream of UPSERTS
(changed keys only — delta semantics, unlike the batch
`operators/snapshot.py:scd2_apply` which consumes full snapshots)
rolls a versioned dimension forward one micro-batch at a time.

Storage is EVENT-SOURCED so every write stays idempotent per
micro-batch: closing a version must not rewrite a row an earlier batch
wrote (a rewrite of old partitions cannot be replay-safe), so the dim
is a log of two record kinds under one ``batch_id``-partitioned
parquet table:

- ``open``  rows: (key, payload, valid_from)            — a version born
- ``close`` rows: (key, valid_from_of_victim, valid_to) — a version ended

``read_scd2`` reconstructs the materialized dimension with ONE join of
opens onto closes on (key, valid_from); a periodic batch compaction
(read → write as a plain table) bounds the log like any LSM. Each
micro-batch dynamic-partition-overwrites exactly its own
``batch_id=N`` partition and reads only ``batch_id < N`` state, so a
replayed batch recomputes against exactly the pre-batch dimension and
rewrites its own output — the same replay contract the near-dup
stream proved out. Version timestamps are the micro-batch sequence
number (deterministic under replay; wall-clock stamps would change on
retry and break idempotence).

At scale: the per-batch work is one join of the batch's keys against
the open rows (broadcast when the batch is small — the usual case) and
one partition write; the unbounded thing is the LOG, which compaction
bounds, not executor state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..persist import has_committed_batches, materialize, overwrite_batch_partition, release

_KIND_OPEN = "open"
_KIND_CLOSE = "close"


def read_scd2(
    spark: SparkSession, dim_path: str, payload_cols: list[str], key: str
) -> DataFrame:
    """Materialize the versioned dimension from the event log:
    ``(key, *payload_cols, valid_from, valid_to)`` with NULL
    ``valid_to`` for open versions."""
    log = spark.read.parquet(dim_path)
    opens = log.where(F.col("kind") == _KIND_OPEN).select(
        key, *payload_cols, "valid_from"
    )
    closes = log.where(F.col("kind") == _KIND_CLOSE).select(
        key, "valid_from", F.col("valid_to").alias("__vt")
    )
    return opens.join(closes, [key, "valid_from"], "left").select(
        key, *payload_cols, "valid_from", F.col("__vt").alias("valid_to")
    )


def stream_scd2_upserts(
    upserts_stream: DataFrame,
    dim_path: str,
    checkpoint: str,
    key: str,
    payload_cols: list[str],
    seq_col: str | None = None,
    trigger_available_now: bool = True,
):
    """Maintain a type-2 SCD dimension from a stream of upsert rows
    ``(key, *payload_cols)``. Unchanged-payload upserts are no-ops;
    changed payloads close the open version at the batch sequence
    number and open a new one; unseen keys open their first version at
    their arrival batch. Deletes are out of scope for upsert streams —
    route tombstones through a full-snapshot `scd2_apply` compaction.

    ``seq_col`` (an event id / source offset, unique per key within a
    batch) makes duplicate keys INSIDE one micro-batch resolve
    last-writer-wins deterministically — without it the surviving row
    is arbitrary, so the final dimension can depend on how the stream
    happened to be cut into batches (the batch-cut-invariance property
    test drives exactly this).
    """
    if not payload_cols:
        raise ValueError("payload_cols must be non-empty")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ts = batch_id + 1  # dim seeds at valid_from=0; batch N commits at N+1
        if seq_col is not None:
            # last-writer-wins within the batch, deterministic by seq
            winner = batch_df.groupBy(key).agg(
                F.max_by(
                    F.struct(*[F.col(c) for c in payload_cols]),
                    F.col(seq_col),
                ).alias("__p")
            )
            batch = winner.select(key, "__p.*")
        else:
            batch = batch_df.select(key, *payload_cols).dropDuplicates([key])
        if has_committed_batches(spark, dim_path):
            log = spark.read.parquet(dim_path).where(
                F.col("batch_id") < F.lit(batch_id)
            )
            opens = log.where(F.col("kind") == _KIND_OPEN).select(
                key, *payload_cols, "valid_from"
            )
            closes = log.where(F.col("kind") == _KIND_CLOSE).select(
                key, "valid_from"
            )
            open_now = opens.join(
                closes, [key, "valid_from"], "left_anti"
            )
        else:
            open_now = None

        if open_now is None:
            new_versions = batch.withColumn("valid_from", F.lit(ts))
            close_records = None
        else:
            o = open_now.alias("o")
            n = batch.alias("n")
            same = None
            for c in payload_cols:
                eq = F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
                same = eq if same is None else (same & eq)
            joined = n.join(o, F.col(f"n.{key}") == F.col(f"o.{key}"), "left")
            changed_or_new = joined.where(
                F.col(f"o.{key}").isNull() | ~same
            )
            new_versions = changed_or_new.select(
                F.col(f"n.{key}").alias(key),
                *[F.col(f"n.{c}").alias(c) for c in payload_cols],
            ).withColumn("valid_from", F.lit(ts))
            # close records carry the victim version's payload: the
            # log schema stays uniform (parquet cannot write untyped
            # NULL columns) and a close row is self-describing
            close_records = changed_or_new.where(
                F.col(f"o.{key}").isNotNull()
            ).select(
                F.col(f"o.{key}").alias(key),
                *[F.col(f"o.{c}").alias(c) for c in payload_cols],
                F.col("o.valid_from").alias("valid_from"),
                F.lit(ts).cast("long").alias("valid_to"),
            )

        cols = [key, *payload_cols, "valid_from", "valid_to", "kind"]
        out = (
            new_versions.withColumn("valid_to", F.lit(None).cast("long"))
            .withColumn("valid_from", F.col("valid_from").cast("long"))
            .withColumn("kind", F.lit(_KIND_OPEN))
            .select(cols)
        )
        if close_records is not None:
            out = out.unionByName(
                close_records.withColumn(
                    "valid_from", F.col("valid_from").cast("long")
                )
                .withColumn("kind", F.lit(_KIND_CLOSE))
                .select(cols)
            )
        out = out.withColumn("batch_id", F.lit(batch_id))
        out = materialize(out, eager=True)  # finish reading the log first
        try:
            overwrite_batch_partition(out, dim_path)
        finally:
            release(out)

    writer = upserts_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
