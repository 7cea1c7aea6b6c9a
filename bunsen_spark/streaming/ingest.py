"""Structured Streaming ingest: the batch bundle→table pipeline behind
``readStream`` (SURVEY §7 M7 — an extension; the reference is
batch-only, see SURVEY §1.1 row "Streams").

The whole batch ingest plan (`sources.bundles`) is stateless Catalyst
expressions, so the SAME functions run unchanged on a streaming
DataFrame — this module only swaps the source (file stream, exactly
-once per-file tracking) and adds the streaming-specific pieces:
watermarked windowed aggregation for late data and sink wiring.

At scale: the file source lists incrementally (``maxFilesPerTrigger``
bounds batch size); resource tables land as parquet/Delta appends
partitioned the same way the batch writer partitions, so batch and
streaming outputs are interchangeable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localrel import values_df
from ..persist import has_committed_batches, materialize, overwrite_batch_partition, release
from ..sources.bundles import _explode_bundles, extract_entry


def stream_bundles_from_directory(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming twin of ``load_from_directory``: one row per resource
    entry, from a file-stream source of whole bundle files."""
    reader = spark.readStream.format("text").option("wholetext", "true")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(path).select(
        F.lit(None).cast("string").alias("bundle_file"),
        F.col("value").alias("content"),
    )
    return _explode_bundles(raw, "content")


def stream_extract_entry(
    spark: SparkSession, bundles: DataFrame, resource_type: str
) -> DataFrame:
    """Identical to the batch ``extract_entry`` — the conversion is
    pure expressions, valid on streaming DataFrames."""
    return extract_entry(spark, bundles, resource_type)


def windowed_observation_counts(
    observations: DataFrame,
    window: str = "1 day",
    watermark: str = "30 days",
) -> DataFrame:
    """Late-data-tolerant tumbling-window counts of observations by
    effective time: event time comes from the resource's
    ``effective.dateTime`` (ISO-8601 string → timestamp), with a
    watermark bounding state retention. Output: (window_start,
    window_end, code_text, n)."""
    with_ts = observations.select(
        F.to_timestamp(F.col("effective.dateTime")).alias("event_ts"),
        F.col("code.text").alias("code_text"),
    ).where(F.col("event_ts").isNotNull())
    return (
        with_ts.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window).alias("w"), "code_text")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "code_text",
            "n",
        )
    )


def stream_dedup(
    df: DataFrame, keys: list[str], ts_col: str, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exactly-once-per-key dedup with bounded state:
    duplicates arriving within the watermark horizon are dropped,
    state for older keys is evicted (``dropDuplicatesWithinWatermark``)
    — the streaming twin of the batch ``dedup`` family for
    at-least-once upstream sources."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def write_resource_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Append a streaming resource frame to parquet with exactly-once
    checkpointing; availableNow processes the backlog then stops
    (batch-parity runs, backfills)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_near_dup_filter(
    docs_stream: DataFrame,
    state_path: str,
    checkpoint: str,
    out_path: str | None = None,
    threshold: float = 0.5,
    trigger_available_now: bool = True,
    portable: bool = False,
):
    """Streaming near-dup decontamination: every micro-batch is
    filtered against the persistent MinHash state
    (`operators/dedup.py:incremental_near_dup`) and the survivors'
    signatures are appended to it, so later batches are judged against
    everything kept before them — the batch incremental operator
    lifted into ``foreachBatch``.

    The state lives as a parquet table (doc_id, hs, sig) partitioned by
    ``batch_id``, NOT in the streaming state store: near-dup state is
    *join* state probed by LSH band keys, which the per-key state-store
    API cannot express; a parquet table also stays readable by the batch
    operator, so batch and streaming ingestion can share one state
    (`incremental_near_dup` selects only (doc_id, hs, sig) and ignores
    the partition column). Both writes are IDEMPOTENT per micro-batch:
    each batch dynamic-partition-overwrites exactly its own
    ``batch_id=N`` partition of the state and of ``out_path``, and the
    state read excludes ``batch_id >= N`` — so a replayed batch (retry
    after a crash between the two writes, or mid-write) filters against
    exactly the pre-batch state (no self-matching against its own
    partial output, which would empty ``kept`` and permanently lose the
    survivors) and simply rewrites its own partitions. The kept rows
    are eagerly materialized BEFORE the overwrite so the read and the
    write of the same path never overlap. ``out_path``, when given,
    receives the surviving documents themselves. ``portable`` selects
    the shingle hash family (`text_analysis.hash31`) and MUST stay
    constant for the lifetime of one state table — signatures from
    different families never match."""
    from ..operators.dedup import incremental_near_dup, minhash_state

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if has_committed_batches(spark, state_path):
            state = spark.read.parquet(state_path).where(
                F.col("batch_id") < F.lit(batch_id)
            )
            kept = incremental_near_dup(batch_df, state, threshold, portable)
        else:
            kept = minhash_state(batch_df, portable)
        kept = kept.withColumn("batch_id", F.lit(batch_id))
        kept = materialize(kept, eager=True)  # finish reading state first
        try:
            overwrite_batch_partition(kept, state_path)
            if out_path:
                overwrite_batch_partition(
                    batch_df.join(kept.select("doc_id"), "doc_id", "left_semi")
                    .withColumn("batch_id", F.lit(batch_id)),
                    out_path,
                )
        finally:
            # persist mode would otherwise leak one cached plan PER
            # MICRO-BATCH for the stream's lifetime
            release(kept)

    writer = docs_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_novelty_scores(
    docs_stream: DataFrame,
    state_path: str,
    checkpoint: str,
    out_path: str,
    n: int = 3,
    trigger_available_now: bool = True,
):
    """Streaming n-gram novelty scoring: every micro-batch is scored
    against the persistent distinct-gram state
    (`operators/text_analysis.py:novelty_against_state`) and the
    batch's own grams are appended to it, so each snapshot's "did this
    add anything" numbers reflect everything ingested before it — the
    incremental novelty operator lifted into ``foreachBatch``,
    sharing its state-table contract with the batch form.

    Same durability discipline as `stream_near_dup_filter`: the gram
    state is a parquet table ``(gram)`` partitioned by ``batch_id``
    (novelty state is anti-join state probed by gram — not per-key
    state-store material — and the parquet table stays readable by the
    batch operator); both writes dynamic-partition-overwrite exactly
    their own ``batch_id=N`` partition and the state read excludes
    ``batch_id >= N``, so crash-replayed batches score against exactly
    the pre-batch state and rewrite only themselves. The first batch
    scores against an empty state (everything novel). Only the batch's
    NEW grams (anti-joined against the pre-batch state) are appended,
    so the state stays exactly the distinct-gram set — no cross-batch
    duplicate rows to re-shuffle at 100 TB. Scores and the new-gram
    set are eagerly materialized before the state write so the state
    read and write never overlap."""
    from ..operators.text_analysis import gram_state, novelty_against_state

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if has_committed_batches(spark, state_path):
            state = spark.read.parquet(state_path).where(
                F.col("batch_id") < F.lit(batch_id)
            )
        else:
            state = values_df(spark, [], "gram string")
        scores = novelty_against_state(batch_df, state, n).withColumn(
            "batch_id", F.lit(batch_id)
        )
        new_grams = (
            gram_state(batch_df, n)
            .join(state.select("gram"), "gram", "left_anti")
            .withColumn("batch_id", F.lit(batch_id))
        )
        # both read the state; close those reads before overwriting it
        scores = materialize(scores, eager=True)
        new_grams = materialize(new_grams, eager=True)
        try:
            overwrite_batch_partition(scores, out_path)
            overwrite_batch_partition(new_grams, state_path)
        finally:
            release(scores)
            release(new_grams)

    writer = docs_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_segment_dedup(
    docs_stream: DataFrame,
    state_path: str,
    checkpoint: str,
    out_path: str,
    seg_words: int = 10,
    trigger_available_now: bool = True,
):
    """Streaming segment dedup: every micro-batch is cleaned against
    the persistent distinct-segment state
    (`operators/dedup.py:segment_dedup_against_state`) and the batch's
    NEW segments (its kept first occurrences, anti-joined against the
    pre-batch state) are appended — the RefinedWeb "remove repeated
    spans" rule running at ingest time, sharing its state-table
    contract with the batch operator exactly like the novelty stream.

    Durability discipline identical to `stream_novelty_scores`: the
    state is a parquet ``(seg)`` table partitioned by ``batch_id``;
    both writes dynamic-partition-overwrite only their own
    ``batch_id=N`` partition and the state read excludes
    ``batch_id >= N``, so crash-replayed batches clean against exactly
    the pre-batch state and rewrite only themselves."""
    from ..operators.dedup import segment_dedup_against_state, segment_state

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if has_committed_batches(spark, state_path):
            state = spark.read.parquet(state_path).where(
                F.col("batch_id") < F.lit(batch_id)
            )
        else:
            state = values_df(spark, [], "seg string")
        cleaned = segment_dedup_against_state(
            batch_df, state, seg_words=seg_words
        ).withColumn("batch_id", F.lit(batch_id))
        new_segs = (
            segment_state(batch_df, seg_words=seg_words)
            .join(state.select("seg"), "seg", "left_anti")
            .withColumn("batch_id", F.lit(batch_id))
        )
        # both read the state; close those reads before overwriting it
        cleaned = materialize(cleaned, eager=True)
        new_segs = materialize(new_segs, eager=True)
        try:
            overwrite_batch_partition(cleaned, out_path)
            overwrite_batch_partition(new_segs, state_path)
        finally:
            release(cleaned)
            release(new_segs)

    writer = docs_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
