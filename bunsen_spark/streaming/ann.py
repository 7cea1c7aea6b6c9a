"""Streaming ANN-index maintenance: encode arriving embedding rows
against a FROZEN product-quantization codebook and append their 8-byte
codes to the persisted index — the standard production split (train the
quantizer offline on a sample; keep the index fresh online without
retraining). Follows this package's foreachBatch conventions
(per-batch-partition writes, dynamic overwrite for replay idempotence,
availableNow triggers for bounded catch-up runs).

Each micro-batch is handed to the BATCH lifecycle API
(:func:`operators.similarity.append_pq_index` /
:func:`append_ivfpq_index` / :func:`delete_from_ivfpq_index`), which
derives the partition id from a content hash of the micro-batch
(:func:`operators.similarity._content_batch_id`) instead of stamping
the engine's monotonic micro-batch id (VERDICT r12): engine ids
restart at 0 on a fresh checkpoint, so after a compaction had folded
ids 0..N a reset stream re-issued folded ids and its new rows (or new
erasures) were silently invisible to every reader. Content-derived
ids make the folded set content-addressed — a reset stream replaying
OLD data re-derives the folded id and no-ops (the content already
lives in the compacted base), while genuinely new data always lands
in a fresh, visible partition. The replay-idempotence contract is
therefore per micro-batch CONTENT: an at-least-once source that
redelivers the same rows in the same micro-batch grouping overwrites
its own partition, but a source that re-feeds old rows under
DIFFERENT batch boundaries appends them again (the index is
insert-only; duplicate tombstone rows are harmless, duplicate code
rows are the upstream's to prevent — erase first or keep feed
batching stable).

No reference counterpart (the reference is batch-only; SURVEY §2) —
beyond-reference extension composing `operators/similarity.py`'s PQ
family with Structured Streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stream_pq_encode(
    embeddings_stream: DataFrame,
    index_path: str,
    checkpoint: str,
    n_subs: int | None = None,
    trigger_available_now: bool = True,
):
    """Append PQ codes for streaming (vec_id, embedding) rows to
    ``{index_path}/codes_stream`` (kept separate from the batch-built
    ``codes`` so replayed micro-batches can dynamic-overwrite their own
    partition; readers merge both sides via :func:`read_stream_codes`,
    which :func:`operators.similarity.read_pq_index` delegates to).
    Each micro-batch runs :func:`operators.similarity.append_pq_index`
    under its content-derived batch id — see the module docstring for
    why engine micro-batch ids are NOT used (checkpoint resets after a
    compaction would silently drop new rows into folded partitions).
    The codebooks are read from ``{index_path}/books`` once per
    micro-batch (tiny; broadcast by the encoder) and NEVER modified —
    geometry is pinned by the index builder
    (:func:`operators.similarity.write_pq_index`)."""
    from ..operators.similarity import PQ_SUBS, append_pq_index

    subs = PQ_SUBS if n_subs is None else n_subs

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        append_pq_index(batch_df, index_path, batch_id=None, n_subs=subs)

    writer = embeddings_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_stream_codes(spark, index_path: str) -> DataFrame:
    """All live codes of a streamed-into PQ index: the manifest's base
    generation plus every streaming/batch append partition a compaction
    has not folded — the frame :func:`pq_index_topk`-style scoring
    consumes (tombstones are applied by
    :func:`operators.similarity.read_pq_index`, not here)."""
    from ..operators.similarity import _PQ_CODES, _merged_index_codes

    return _merged_index_codes(spark, index_path, _PQ_CODES)


def stream_ivfpq_encode(
    embeddings_stream: DataFrame,
    index_path: str,
    checkpoint: str,
    n_subs: int | None = None,
    trigger_available_now: bool = True,
):
    """Append IVF-PQ codes for streaming (vec_id, embedding) rows to
    ``{index_path}/codes_stream``: each arrival is coarse-assigned to
    its nearest FROZEN cell centroid and its residual encoded against
    the FROZEN shared codebooks — the standard IVFADC online-insert
    path (no retraining; geometry pinned by
    :func:`operators.similarity.write_ivfpq_index`). Each micro-batch
    runs :func:`operators.similarity.append_ivfpq_index` under its
    content-derived batch id (module docstring: engine ids are unsafe
    across checkpoint resets once a compaction has folded them).
    Readers merge base + stream via :func:`read_stream_ivfpq_codes`,
    which :func:`operators.similarity.read_ivfpq_index` delegates
    to."""
    from ..operators.similarity import PQ_SUBS, append_ivfpq_index

    subs = PQ_SUBS if n_subs is None else n_subs

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        append_ivfpq_index(batch_df, index_path, batch_id=None, n_subs=subs)

    writer = embeddings_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_stream_ivfpq_codes(spark, index_path: str) -> DataFrame:
    """All live (vec_id, ccid, sub, code) rows of a streamed-into
    IVF-PQ index — batch-built base plus streaming appends, minus
    partitions a compaction already folded into the base. Delegates to
    the manifest-aware merge so batch and streaming readers can never
    disagree about which partitions are live
    (:func:`operators.similarity.compact_ivfpq_index`)."""
    from ..operators.similarity import _IVFPQ_CODES, _merged_index_codes

    return _merged_index_codes(spark, index_path, _IVFPQ_CODES)


def stream_tombstones(
    ids_stream: DataFrame,
    index_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Append tombstone partitions for streaming (vec_id, ...) rows —
    the erasure half of the online index lifecycle (a GDPR/takedown
    queue is a stream exactly like the ingest side): each micro-batch
    runs :func:`operators.similarity.delete_from_ivfpq_index` under
    its content-derived batch id, the exact layout and semantics of a
    batch delete (tombstone partitions accumulate; a replayed
    micro-batch with identical content overwrites its own partition).
    Engine micro-batch ids are NOT used: after a compaction folds them
    a reset checkpoint would re-issue them, and new erasure requests
    written under a folded id would be silently IGNORED by readers —
    silent non-erasure (VERDICT r12). With content-derived ids a reset
    stream replaying old requests no-ops (already folded into the
    codes) and genuinely new requests always land live. Readers of
    BOTH index types apply the merged live tombstone set on their
    side; ``compact_*_index`` folds and retires the partitions."""
    from ..operators.similarity import delete_from_ivfpq_index

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        delete_from_ivfpq_index(batch_df, index_path, batch_id=None)

    writer = ids_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
