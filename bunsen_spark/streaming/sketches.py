"""Streaming sketch maintenance — continuous frequency monitoring over
an event stream without ever storing raw events: each micro-batch
writes ITS OWN count-min cell table as one ``batch_id`` partition, and
readers merge cells by summation (count-min's mergeability makes the
merged sketch EXACTLY the sketch of the concatenated stream — not an
approximation of an approximation).

Replay contract (same as `streaming/ingest.py` and `streaming/scd2.py`):
a batch dynamic-partition-overwrites only its own ``batch_id=N``
partition, so crash-and-retry converges; there is no read-before-write
dependency at all here — sketch building is per-batch pure — which
makes this the simplest member of the foreachBatch family.

At scale: per batch the shuffle is bounded by depth × width cells
(KiBs) regardless of event volume; the log grows one tiny partition
per batch and compaction is just `read_countmin` → write. The merged
sketch feeds `operators/sketches.py:countmin_estimate` /
`heavy_hitters` unchanged — batch and streaming share one sketch
format, the same shared-state contract the near-dup stream proved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import (
    DEFAULT_CM_DEPTH,
    DEFAULT_CM_WIDTH,
    countmin_table,
)
from ..persist import overwrite_batch_partition


def read_countmin(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Merge all per-batch cell partitions into one sketch table."""
    return (
        spark.read.parquet(sketch_path)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )


def stream_countmin(
    events_stream: DataFrame,
    value_col: str,
    sketch_path: str,
    checkpoint: str,
    width: int = DEFAULT_CM_WIDTH,
    depth: int = DEFAULT_CM_DEPTH,
    portable: bool = False,
    trigger_available_now: bool = True,
):
    """Maintain a count-min sketch of ``value_col`` over a stream:
    one bounded cell table per micro-batch, merged at read time.
    ``(width, depth, portable)`` must stay constant for the lifetime
    of one sketch path — cells from different geometries or hash
    families must never be summed together."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = (
            countmin_table(batch_df, value_col, width, depth, portable)
            .withColumn("batch_id", F.lit(batch_id))
        )
        overwrite_batch_partition(out, sketch_path)

    writer = events_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_distinct_sketches(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Merge per-batch HLL partitions to one sketch + estimate per
    group (``hll_union_agg`` — lossless for a fixed ``lg_k``)."""
    merged = (
        spark.read.parquet(sketch_path)
        .groupBy("grp")
        .agg(F.hll_union_agg(F.col("sketch")).alias("sketch"))
    )
    return merged.select(
        "grp",
        "sketch",
        F.hll_sketch_estimate(F.col("sketch")).cast("long").alias("estimate"),
    )


def stream_distinct_sketches(
    events_stream: DataFrame,
    group_col: str,
    value_col: str,
    sketch_path: str,
    checkpoint: str,
    lg_k: int = 12,
    trigger_available_now: bool = True,
):
    """Maintain per-group HLL distinct sketches over a stream: one
    fixed-size sketch row per (group, batch), merged at read time —
    continuous cardinality monitoring with no raw-value retention.
    ``lg_k`` must stay constant per sketch path."""
    from ..operators.sketches import distinct_sketches

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = (
            distinct_sketches(batch_df, group_col, value_col, lg_k)
            .select("grp", "sketch")
            .withColumn("batch_id", F.lit(batch_id))
        )
        overwrite_batch_partition(out, sketch_path)

    writer = events_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_bloom(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Merge per-batch Bloom word partitions by bitwise OR — the
    filter of the union of every batch's key set."""
    return (
        spark.read.parquet(sketch_path)
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )


def stream_bloom(
    keys_stream: DataFrame,
    key_col: str,
    sketch_path: str,
    checkpoint: str,
    num_bits: int | None = None,
    num_hashes: int | None = None,
    trigger_available_now: bool = True,
):
    """Maintain a Bloom filter of every key ever seen on a stream:
    one bounded word table per micro-batch (<= num_bits/64 rows),
    OR-merged at read time. `read_bloom`'s output feeds
    `operators/bloom.py:bloom_prefilter` unchanged — e.g. continuously
    accumulate seen-document ids and prefilter a batch backfill
    against them. Geometry must stay constant per sketch path."""
    from ..operators.bloom import DEFAULT_NUM_BITS, DEFAULT_NUM_HASHES, bloom_words

    nb = DEFAULT_NUM_BITS if num_bits is None else num_bits
    nh = DEFAULT_NUM_HASHES if num_hashes is None else num_hashes

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = (
            bloom_words(batch_df, key_col, nb, nh)
            .withColumn("batch_id", F.lit(batch_id))
        )
        overwrite_batch_partition(out, sketch_path)

    writer = keys_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
